package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.catalog.SnapshotTable

/** Iceberg-semantics stand-in: snapshot isolation, time travel, optimistic
  * concurrency, copy-on-write delete, orphan sweep.
  */
class SnapshotTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-snap").resolve("t").toString

  test("append/overwrite produce numbered snapshots; reads resolve latest") {
    import spark.implicits._
    val t = tmp()
    val v1 = SnapshotTable.append(spark, t, Seq(1, 2, 3).toDF("x"))
    val v2 = SnapshotTable.append(spark, t, Seq(4, 5).toDF("x"))
    assert((v1, v2) == (1L, 2L))
    assert(SnapshotTable.read(spark, t).count() == 5)
    val v3 = SnapshotTable.overwrite(spark, t, Seq(9).toDF("x"))
    assert(v3 == 3L)
    assert(SnapshotTable.read(spark, t).collect().map(_.getInt(0)).toSeq == Seq(9))
  }

  test("appendNonEmpty publishes rows like append and an empty frame not at all") {
    import spark.implicits._
    val t = tmp()
    val dataDirs = () => Option(new java.io.File(s"$t/data").list()).map(_.toSeq.sorted)
    assert(SnapshotTable.appendNonEmpty(spark, t, Seq.empty[Int].toDF("x")).isEmpty)
    assert(SnapshotTable.snapshots(t).isEmpty && dataDirs().forall(_.isEmpty))
    assert(SnapshotTable.appendNonEmpty(spark, t, Seq(1, 2).toDF("x")) == Some(1L))
    val dirs = dataDirs()
    // several empty write tasks, still no rows
    assert(SnapshotTable.appendNonEmpty(spark, t,
      spark.range(0, 100, 1, 4).filter(col("id") < 0).toDF("x")).isEmpty)
    assert(SnapshotTable.snapshots(t) == Seq(1L) && dataDirs() == dirs)
    assert(SnapshotTable.read(spark, t).count() == 2)
  }

  test("time travel: every historical snapshot stays readable, bit-stable") {
    import spark.implicits._
    val t = tmp()
    SnapshotTable.append(spark, t, Seq(1, 2).toDF("x"))
    SnapshotTable.append(spark, t, Seq(3).toDF("x"))
    SnapshotTable.deleteWhere(spark, t, col("x") === 1)
    assert(SnapshotTable.snapshots(t) == Seq(1L, 2L, 3L))
    assert(SnapshotTable.read(spark, t, Some(1)).count() == 2)
    assert(SnapshotTable.read(spark, t, Some(2)).count() == 3)
    assert(SnapshotTable.read(spark, t, Some(3)).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
  }

  test("snapshot isolation: a resolved reader is immune to later commits") {
    import spark.implicits._
    val t = tmp()
    SnapshotTable.append(spark, t, Seq(1, 2, 3).toDF("x"))
    val pinned = SnapshotTable.read(spark, t, Some(1)) // resolve dirs NOW
    SnapshotTable.deleteWhere(spark, t, col("x") > 0)  // wipe everything after
    assert(pinned.count() == 3)                        // pinned view unaffected
    assert(SnapshotTable.read(spark, t).count() == 0)
  }

  test("optimistic concurrency: a racing commit NEVER clobbers the winner") {
    import spark.implicits._
    val t = tmp()
    SnapshotTable.append(spark, t, Seq(1).toDF("x"))
    // a racing writer grabs v2 in the window BETWEEN our manifest
    // computation and our publish attempt (the beforePublish test seam) —
    // exactly where rename-based publishes silently clobber on Linux
    val v1Content = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t, "snapshots", "v1"))
    var raced = false
    val v = SnapshotTable.append(spark, t, Seq(7).toDF("x"), beforePublish = () => {
      if (!raced) {
        raced = true
        // winner publishes a valid v2 (same dirs as v1)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(t, "snapshots", "v2"), v1Content)
      }
    })
    // our first attempt targeted v2, MUST have lost, and retried to v3
    assert(v == 3L)
    // the winner's v2 manifest survives byte-identical (no clobber)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(t, "snapshots", "v2")) == v1Content)
    // and v3 was recomputed ON TOP of the winner's state
    assert(SnapshotTable.read(spark, t, Some(3))
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 7))
  }

  test("deleteWhere lost race recomputes from the new snapshot (no lost update)") {
    import spark.implicits._
    val t = tmp()
    SnapshotTable.append(spark, t, Seq(1, 2).toDF("x"))
    // a concurrent APPEND of row 3 lands between the delete's survivor
    // computation (from v1) and its publish attempt
    var raced = false
    SnapshotTable.deleteWhere(spark, t, col("x") === 1, beforePublish = () => {
      if (!raced) { raced = true; SnapshotTable.append(spark, t, Seq(3).toDF("x")): Unit }
    })
    // row 3 SURVIVES: the delete recomputed from the appended snapshot
    // instead of silently replacing it with v1-derived survivors
    assert(SnapshotTable.read(spark, t).collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
    assert(SnapshotTable.snapshots(t) == Seq(1L, 2L, 3L))
  }

  private def listing(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).map(_.toSeq.sorted).getOrElse(Seq.empty)

  test("a commit that exhausts its retries reclaims the data dir it wrote") {
    import spark.implicits._
    val t = tmp()
    SnapshotTable.append(spark, t, Seq(1).toDF("x"))
    val before = listing(s"$t/data")
    val v1Content = java.nio.file.Files.readString(java.nio.file.Paths.get(t, "snapshots", "v1"))
    // every attempt loses: a racer publishes the version it targets first
    val err = intercept[IllegalStateException] {
      SnapshotTable.append(spark, t, Seq(7).toDF("x"), beforePublish = () => {
        val next = SnapshotTable.currentVersion(t).get + 1
        java.nio.file.Files.writeString(java.nio.file.Paths.get(t, "snapshots", s"v$next"), v1Content)
      })
    }
    assert(err.getMessage.contains("retries exhausted"))
    assert(listing(s"$t/data") == before)
    assert(SnapshotTable.read(spark, t).collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("a rewrite sweeps stale orphans and keeps fresh ones and every listed dir") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val t = tmp()
    SnapshotTable.append(spark, t, Seq(1, 2).toDF("x"))
    SnapshotTable.append(spark, t, Seq(3).toDF("x"))
    SnapshotTable.deleteWhere(spark, t, col("x") === 2) // v3 lists one new dir
    val listed = SnapshotTable.snapshots(t)
      .flatMap(SnapshotTable.dataDirs(t, _)).map(Paths.get(_).getFileName.toString).distinct
    assert(listed.size == 3)
    // what a crashed writer leaves: an unlisted dir and a manifest temp file
    val data = Paths.get(t, "data")
    SnapshotTable.overwrite(spark, t, Seq(0).toDF("x")) // v4: its dir becomes the orphan
    val orphan = listing(data.toString).filterNot(listed.contains).head
    Files.delete(Paths.get(t, "snapshots", "v4"))
    Files.writeString(Paths.get(t, "snapshots", ".tmp-dead0001"), "x")
    // a concurrent writer's unpublished dirs: brand new, or old at the top
    // with a file still being written deep inside
    Files.createDirectories(data.resolve("fresh001"))
    Files.writeString(data.resolve("fresh001").resolve("part-0.parquet"), "x")
    Files.createDirectories(data.resolve("busy0001/_temporary/0"))
    val busyFile = data.resolve("busy0001/_temporary/0/part-0.parquet")
    Files.writeString(busyFile, "x")
    Files.writeString(Paths.get(t, "snapshots", ".tmp-live0001"), "x")
    // everything old, listed dirs included, except the in-flight entries
    SparkTestBase.backdate(Paths.get(t))
    val now = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())
    Seq(data.resolve("fresh001"), data.resolve("fresh001").resolve("part-0.parquet"), busyFile,
      Paths.get(t, "snapshots", ".tmp-live0001")).foreach(Files.setLastModifiedTime(_, now))

    val v = SnapshotTable.deleteWhere(spark, t, col("x") === 3)
    assert(v == 4L)
    val after = listing(data.toString)
    assert(!after.contains(orphan))
    assert(listed.forall(after.contains) && after.contains("fresh001") && after.contains("busy0001"))
    assert(listing(s"$t/snapshots") == Seq(".tmp-live0001", "v1", "v2", "v3", "v4"))
    assert(SnapshotTable.read(spark, t).collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(SnapshotTable.read(spark, t, Some(2)).count() == 3) // time travel intact
  }
}
