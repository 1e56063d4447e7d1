package graft.catalog

import java.nio.file.{Files, LinkOption, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Minimal snapshot-table layer — the Iceberg-semantics stand-in (no
  * Iceberg jars ship in this sandbox's offline cache; the abstraction
  * matches so the real thing can slot in):
  *
  *  - DATA is immutable: every write lands in a fresh `data/<uuid>` dir;
  *  - a SNAPSHOT is a numbered manifest file listing, one per line, the
  *    data dirs visible at that version; committing = atomically creating
  *    `snapshots/v<N+1>` as a hard link ([[commitIf]]: create-if-absent);
  *  - OPTIMISTIC CONCURRENCY: two writers racing to v<N+1> — one link
  *    wins, the loser re-reads the new current snapshot and retries on top
  *    of it (Iceberg's commit loop);
  *  - READERS resolve a snapshot once and see an immutable view: a reader
  *    pinned to v3 is untouched by later commits (snapshot isolation), and
  *    passing an old version is time travel;
  *  - REWRITES (delete, replace, merge, compaction) are copy-on-write
  *    ([[rewrite]]); each first sweeps what crashed writers left behind.
  */
object SnapshotTable {

  private def snapDir(table: String): Path = Paths.get(table, "snapshots")
  private def dataDir(table: String): Path = Paths.get(table, "data")

  /** How long an orphan must sit untouched before a sweep deletes it; a
    * live writer touches its dir while it writes and publishes right after. */
  private[graft] val OrphanGraceMs: Long = 24L * 60 * 60 * 1000

  /** Entries of directory `d`; empty when it is absent or not a directory. */
  private def list(d: Path): List[Path] =
    if (!Files.isDirectory(d, LinkOption.NOFOLLOW_LINKS)) Nil
    else {
      val s = Files.list(d)
      try s.iterator().asScala.toList finally s.close()
    }

  /** Committed snapshot versions, ascending; empty for a fresh table. */
  def snapshots(table: String): Seq[Long] =
    list(snapDir(table)).map(_.getFileName.toString)
      .collect { case n if n.startsWith("v") => n.drop(1).toLong }
      .sorted

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
      // is benign; a later rewrite's orphan sweep removes it.
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

  private def writeData(spark: SparkSession, table: String, df: DataFrame,
                        options: Map[String, String] = Map.empty): String = {
    val name = java.util.UUID.randomUUID.toString.take(8)
    df.write.mode(SaveMode.ErrorIfExists).options(options)
      .parquet(dataDir(table).resolve(name).toString)
    name
  }

  /** Append: new data dir + snapshot = old dirs ++ new dir. Appends are
    * commutative, so a lost race safely re-applies onto the winner's
    * manifest. `beforePublish` is the race-test seam.
    */
  def append(spark: SparkSession, table: String, df: DataFrame,
             beforePublish: () => Unit = () => ()): Long = {
    val name = writeData(spark, table, df)
    reclaimOnFailure(table, name)(commit(table, dirs => dirs :+ name, beforePublish = beforePublish))
  }

  /** [[append]] that publishes nothing when `df` has no rows: the fresh
    * data dir is deleted and None returned, so an idle writer adds neither
    * a snapshot nor a dir that every later read must list. Emptiness comes
    * from the parquet footers of the files just written, on the driver —
    * no Spark job. `options` are the parquet writer's (per-column
    * encodings and the like); they do not change the rows.
    */
  def appendNonEmpty(spark: SparkSession, table: String, df: DataFrame,
                     options: Map[String, String] = Map.empty): Option[Long] = {
    val name = writeData(spark, table, df, options)
    val dir = dataDir(table).resolve(name)
    if (hasRows(spark, dir)) Some(reclaimOnFailure(table, name)(commit(table, dirs => dirs :+ name)))
    else { deleteRecursively(dir); None }
  }

  /** Whether a parquet file in `dir` holds a row: footers are read until
    * the first non-empty file (a write of rows rarely needs more than two),
    * with the session's Hadoop configuration — building a fresh one per
    * file costs milliseconds each.
    */
  private def hasRows(spark: SparkSession, dir: Path): Boolean = {
    val options = HadoopReadOptions.builder(spark.sparkContext.hadoopConfiguration).build()
    list(dir)
      .filter { f => val n = f.getFileName.toString; n.endsWith(".parquet") && !n.startsWith(".") }
      .exists { f =>
        val r = new ParquetFileReader(new LocalInputFile(f), options)
        try r.getRecordCount > 0 finally r.close()
      }
  }

  /** Overwrite: snapshot = just the new dir (old data stays readable via
    * time travel). By CONTRACT overwrite replaces whatever is current at
    * commit time — like Iceberg's overwrite, a concurrent append's rows are
    * replaced along with everything else.
    */
  def overwrite(spark: SparkSession, table: String, df: DataFrame): Long = {
    val name = writeData(spark, table, df)
    reclaimOnFailure(table, name)(commit(table, _ => Seq(name)))
  }

  /** Runs `publish` for the data dir `name` just written. When it throws,
    * no snapshot lists the dir ([[commitIf]] absorbs its post-publish
    * cleanup errors, and a lost or exhausted race published nothing), so the
    * dir is reclaimed before the error propagates; the reclaim itself never
    * masks that error.
    */
  private def reclaimOnFailure[A](table: String, name: String)(publish: => A): A =
    try publish
    catch {
      case NonFatal(e) =>
        try deleteRecursively(dataDir(table).resolve(name)) catch { case NonFatal(_) => () }
        throw e
    }

  /** The copy-on-write loop under every rewrite: after an orphan sweep, `f`
    * maps the rows of the current snapshot v to the table's new rows, which
    * land in one fresh dir that v+1 alone lists. NOT commutative, so the
    * commit is compare-and-set on v: a racing commit forces a full RECOMPUTE
    * from the new current snapshot (Iceberg's conflict validation), never a
    * lost update of the racer's rows. `beforePublish` is the race-test seam.
    */
  private[graft] def rewrite(spark: SparkSession, table: String, f: DataFrame => DataFrame,
                             maxRetries: Int = 10,
                             beforePublish: () => Unit = () => ()): Long = {
    sweepOrphans(table)
    var attempt = 0
    while (attempt < maxRetries) {
      val base = currentVersion(table)
        .getOrElse(throw new IllegalStateException(s"no snapshots in $table"))
      val name = writeData(spark, table, f(read(spark, table, Some(base))))
      if (reclaimOnFailure(table, name)(commitIf(table, base, Seq(name), beforePublish)))
        return base + 1
      deleteRecursively(dataDir(table).resolve(name))
      attempt += 1
    }
    throw new IllegalStateException(s"commit contention: $maxRetries retries exhausted")
  }

  /** Copy-on-write DELETE WHERE: the survivors of the current snapshot are
    * rewritten into one dir ([[rewrite]]). (File-level pruning — rewriting
    * only dirs that contain matches — is the Iceberg refinement; semantics
    * are identical.)
    */
  def deleteWhere(spark: SparkSession, table: String, predicate: Column,
                  maxRetries: Int = 10,
                  beforePublish: () => Unit = () => ()): Long =
    rewrite(spark, table, _.filter(!predicate), maxRetries, beforePublish)

  /** Iceberg's remove_orphan_files: deletes every `data/` entry that no
    * snapshot lists and every `snapshots/.tmp-*` file once nothing in its
    * tree changed for [[OrphanGraceMs]], so a concurrent writer's unpublished
    * dir survives. Best effort: an entry that vanishes mid-sweep is skipped.
    */
  private def sweepOrphans(table: String): Unit = {
    val cutoff = System.currentTimeMillis() - OrphanGraceMs
    val listed = snapshots(table).flatMap(readManifest(table, _)).toSet
    val candidates =
      list(dataDir(table)).filterNot(p => listed(p.getFileName.toString)) ++
        list(snapDir(table)).filter(_.getFileName.toString.startsWith(".tmp-"))
    candidates.foreach { p =>
      try if (newestMtime(p) < cutoff) deleteRecursively(p)
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
    }
  }

  /** Newest modification time anywhere in the tree at `p`, in ms. */
  private def newestMtime(p: Path): Long =
    list(p).foldLeft(Files.getLastModifiedTime(p, LinkOption.NOFOLLOW_LINKS).toMillis)(
      (newest, c) => math.max(newest, newestMtime(c)))

  /** Delete a file or a directory tree (no-op when absent); a symbolic link
    * is removed, never followed.
    */
  private[graft] def deleteRecursively(p: Path): Unit = {
    list(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
