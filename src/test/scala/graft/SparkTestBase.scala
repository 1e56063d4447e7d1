package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

/** Shared local session for Spark-backed specs (one JVM per forked test
  * run; getOrCreate dedupes across suites).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The jobs and stages a block launched: each job's description, each
    * submitted stage's (job description, stage name), in order, and the
    * bytes of task results the driver received and the shuffle records the
    * tasks wrote, each summed by job description.
    */
  final case class Launched(jobs: Seq[String], stages: Seq[(String, String)],
                            resultBytes: Map[String, Long], shuffleRecords: Map[String, Long])

  /** What `body` launches under a fresh job group whose caller description
    * is "caller work" and whose call site (stage name) is "caller site";
    * checks that all three survive `body`.
    */
  def launched(body: => Unit): Launched = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted,
      SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val group = s"caller-${java.util.UUID.randomUUID}"
    val sentinel = s"sentinel-$group"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    // each stage's job description, and the result bytes and shuffle
    // records written of each description
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val bytes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val records = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    def description(props: java.util.Properties): Option[String] =
      Option(props).filter(_.getProperty("spark.jobGroup.id") == group)
        .map(p => String.valueOf(p.getProperty("spark.job.description")))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        description(e.properties).foreach { d =>
          if (d == sentinel) sentinelSeen.countDown()
          else { jobs.add(d); e.stageIds.foreach(stageJob.put(_, d)) }
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        description(e.properties).filter(_ != sentinel).foreach(d => stages.add((d, e.stageInfo.name)))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (d <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
          bytes.merge(d, m.resultSize, (a, b) => a + b)
          records.merge(d, m.shuffleWriteMetrics.recordsWritten, (a, b) => a + b)
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "caller work", interruptOnCancel = false)
      sc.setCallSite("caller site")
      body
      assert(sc.getLocalProperty("spark.jobGroup.id") == group)
      assert(sc.getLocalProperty("spark.job.description") == "caller work")
      assert(sc.getLocalProperty("callSite.short") == "caller site")
      assert(sc.getLocalProperty("callSite.long") == null)
      // listener events arrive in order: once the sentinel job is seen, so
      // are all of body's jobs and stages
      sc.setJobDescription(sentinel)
      sc.parallelize(1 to 2).count()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      def sums(m: java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]) =
        m.asScala.map { case (d, n) => d -> n.longValue }.toMap
      Launched(jobs.asScala.toSeq, stages.asScala.toSeq, sums(bytes), sums(records))
    } finally {
      sc.clearJobGroup()
      sc.clearCallSite()
      sc.removeSparkListener(listener)
    }
  }

  /** Descriptions of the jobs `body` launches; see [[launched]]. */
  def jobDescriptions(body: => Unit): Seq[String] = launched(body).jobs

  /** Sets the modification time of every file and dir in the tree at `p`
    * to past `SnapshotTable`'s orphan grace period, children first so a
    * dir's own time is not bumped afterwards.
    */
  def backdate(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.toList.foreach(backdate) finally s.close()
    }
    val past = System.currentTimeMillis() - graft.catalog.SnapshotTable.OrphanGraceMs - 3600000L
    java.nio.file.Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(past))
  }
}
