package graft.catalog

import java.nio.file.{Files, Path, Paths}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Minimal snapshot-table layer — the Iceberg-semantics stand-in (no
  * Iceberg jars ship in this sandbox's offline cache; the abstraction
  * matches so the real thing can slot in):
  *
  *  - DATA is immutable: every write lands in a fresh `data/<uuid>` dir;
  *  - a SNAPSHOT is a numbered JSON file listing the data dirs visible at
  *    that version; committing = atomically creating `snapshots/v<N+1>`
  *    (Files.move without REPLACE — the filesystem's create-if-absent);
  *  - OPTIMISTIC CONCURRENCY: two writers racing to v<N+1> — one rename
  *    wins, the loser re-reads the new current snapshot and retries on top
  *    of it (Iceberg's commit loop);
  *  - READERS resolve a snapshot once and see an immutable view: a reader
  *    pinned to v3 is untouched by later commits (snapshot isolation), and
  *    passing an old version is time travel;
  *  - DELETE is copy-on-write: affected rows are filtered into a rewrite
  *    dir and the new snapshot swaps it in; untouched dirs carry over
  *    byte-identical.
  */
object SnapshotTable {

  private def snapDir(table: String): Path = Paths.get(table, "snapshots")
  private def dataDir(table: String): Path = Paths.get(table, "data")

  /** Committed snapshot versions, ascending; empty for a fresh table. */
  def snapshots(table: String): Seq[Long] = {
    val d = snapDir(table)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("v") => n.drop(1).toLong }
        .toSeq.sorted
      finally s.close()
    }
  }

  private implicit class IterAsScala[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }

  def currentVersion(table: String): Option[Long] = snapshots(table).lastOption

  private def readManifest(table: String, version: Long): Seq[String] = {
    val content = Files.readString(snapDir(table).resolve(s"v$version"))
    content.split('\n').map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Paths of the data dirs visible at `version`, oldest first. The list is
    * immutable — concurrent commits cannot change it — so a reader that
    * knows the data's schema can declare it instead of inferring one.
    */
  def dataDirs(table: String, version: Long): Seq[String] =
    readManifest(table, version).map(n => dataDir(table).resolve(n).toString)

  /** Read the table at a snapshot (default: latest). The resolved dir list
    * is immutable — concurrent commits cannot tear this read.
    */
  def read(spark: SparkSession, table: String, snapshot: Option[Long] = None): DataFrame = {
    val v = snapshot.orElse(currentVersion(table))
      .getOrElse(throw new IllegalStateException(s"no snapshots in $table"))
    spark.read.parquet(dataDirs(table, v): _*)
  }

  /** Atomically publish `dirs` as the snapshot AFTER `expectedVersion` —
    * compare-and-set. POSIX rename REPLACES an existing target (so
    * Files.move can never be create-if-absent on Linux); the atomic
    * create-if-absent primitive here is a HARD LINK: link(2) fails with
    * EEXIST when the target exists, it never clobbers. Returns false when
    * a racing writer won `v<expected+1>`.
    *
    * `beforePublish` is a test seam: it runs between manifest preparation
    * and the publish attempt, where a racing commit would interleave.
    */
  def commitIf(table: String, expectedVersion: Long, dirs: Seq[String],
               beforePublish: () => Unit = () => ()): Boolean = {
    Files.createDirectories(snapDir(table))
    val tmp = snapDir(table).resolve(s".tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    try {
      Files.writeString(tmp, dirs.mkString("\n"))
      beforePublish()
      val target = snapDir(table).resolve(s"v${expectedVersion + 1}")
      try {
        Files.createLink(target, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // some filesystems surface EEXIST as a bare FileSystemException:
        // treat it as a lost race ONLY when the target verifiably exists
        case _: java.nio.file.FileSystemException if Files.exists(target) => false
      }
    } finally {
      // once the link is published this method MUST report success: a
      // throwing tmp cleanup would make callers believe the commit failed
      // and roll back data a live snapshot references. A leaked tmp file
      // is benign; swept opportunistically, never at correctness cost.
      try Files.deleteIfExists(tmp)
      catch { case _: java.io.IOException => () }
    }
  }

  /** Optimistic-commit loop for COMMUTATIVE manifest edits (append-style):
    * the next manifest is recomputed from the CURRENT one on every attempt,
    * so a lost race retries on top of the winner's state.
    */
  private def commit(table: String, nextDirs: Seq[String] => Seq[String],
                     maxRetries: Int = 10,
                     beforePublish: () => Unit = () => ()): Long = {
    var attempt = 0
    while (attempt < maxRetries) {
      val cur = currentVersion(table)
      val curDirs = cur.map(readManifest(table, _)).getOrElse(Seq.empty)
      val expected = cur.getOrElse(0L)
      if (commitIf(table, expected, nextDirs(curDirs), beforePublish))
        return expected + 1
      attempt += 1
    }
    throw new IllegalStateException(s"commit contention: $maxRetries retries exhausted")
  }

  private def writeData(spark: SparkSession, table: String, df: DataFrame): String = {
    val name = java.util.UUID.randomUUID.toString.take(8)
    df.write.mode(SaveMode.ErrorIfExists).parquet(dataDir(table).resolve(name).toString)
    name
  }

  /** Append: new data dir + snapshot = old dirs ++ new dir. Appends are
    * commutative, so a lost race safely re-applies onto the winner's
    * manifest. `beforePublish` is the race-test seam.
    */
  def append(spark: SparkSession, table: String, df: DataFrame,
             beforePublish: () => Unit = () => ()): Long = {
    val name = writeData(spark, table, df)
    commit(table, dirs => dirs :+ name, beforePublish = beforePublish)
  }

  /** [[append]] that publishes nothing when `df` has no rows: the fresh
    * data dir is deleted and None returned, so an idle writer adds neither
    * a snapshot nor a dir that every later read must list. Emptiness comes
    * from the parquet footers of the files just written, on the driver —
    * no Spark job.
    */
  def appendNonEmpty(spark: SparkSession, table: String, df: DataFrame): Option[Long] = {
    val name = writeData(spark, table, df)
    val dir = dataDir(table).resolve(name)
    if (hasRows(spark, dir)) Some(commit(table, dirs => dirs :+ name))
    else { deleteRecursively(dir); None }
  }

  /** Whether a parquet file in `dir` holds a row: footers are read until
    * the first non-empty file (a write of rows rarely needs more than two),
    * with the session's Hadoop configuration — building a fresh one per
    * file costs milliseconds each.
    */
  private def hasRows(spark: SparkSession, dir: Path): Boolean = {
    val options = HadoopReadOptions.builder(spark.sparkContext.hadoopConfiguration).build()
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter { f => val n = f.getFileName.toString; n.endsWith(".parquet") && !n.startsWith(".") }
      .exists { f =>
        val r = new ParquetFileReader(new LocalInputFile(f), options)
        try r.getRecordCount > 0 finally r.close()
      }
    finally s.close()
  }

  /** Overwrite: snapshot = just the new dir (old data stays readable via
    * time travel). By CONTRACT overwrite replaces whatever is current at
    * commit time — like Iceberg's overwrite, a concurrent append's rows are
    * replaced along with everything else.
    */
  def overwrite(spark: SparkSession, table: String, df: DataFrame): Long = {
    val name = writeData(spark, table, df)
    commit(table, _ => Seq(name))
  }

  /** Copy-on-write DELETE WHERE: survivors are rewritten into one dir and
    * the snapshot swaps to it. NOT commutative — survivors were computed
    * from a specific snapshot, so the commit is compare-and-set on that
    * version: a racing commit forces a full RECOMPUTE from the new current
    * snapshot (Iceberg's conflict validation), never a silent lost update
    * of the racer's rows. (File-level pruning — rewriting only dirs that
    * contain matches — is the Iceberg refinement; semantics are identical.)
    */
  def deleteWhere(spark: SparkSession, table: String, predicate: Column,
                  maxRetries: Int = 10,
                  beforePublish: () => Unit = () => ()): Long = {
    var attempt = 0
    while (attempt < maxRetries) {
      val base = currentVersion(table)
        .getOrElse(throw new IllegalStateException(s"no snapshots in $table"))
      val survivors = read(spark, table, Some(base)).filter(!predicate)
      val name = writeData(spark, table, survivors)
      val committed =
        try commitIf(table, base, Seq(name), beforePublish)
        catch {
          case scala.util.control.NonFatal(e) =>
            // commitIf only throws when NOTHING was published (post-publish
            // cleanup errors are absorbed there), so reclaiming the rewrite
            // is safe; the cleanup itself must never mask the real error
            try deleteRecursively(dataDir(table).resolve(name))
            catch { case scala.util.control.NonFatal(_) => () }
            throw e
        }
      if (committed) return base + 1
      // lost the race: the rewrite computed from a stale snapshot is dead —
      // reclaim it, then recompute survivors from the new current snapshot
      deleteRecursively(dataDir(table).resolve(name))
      attempt += 1
    }
    throw new IllegalStateException(s"commit contention: $maxRetries retries exhausted")
  }

  /** Delete a file or a directory tree (no-op when absent). */
  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.foreach(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
