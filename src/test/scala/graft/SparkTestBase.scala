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

  /** Descriptions of the jobs `body` launches under a fresh job group whose
    * caller description is "caller work"; checks that both survive `body`.
    */
  def jobDescriptions(body: => Unit): Seq[String] = {
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
