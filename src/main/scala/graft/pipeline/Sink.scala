package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.catalog.SnapshotTable.deleteRecursively
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sink-side merge semantics on plain parquet — the Iceberg-less stand-in
  * for the reference's index maintenance:
  *
  *  - stale-children delete before rewrite (`SolrSpewer.java:134-142`:
  *    delete WHERE root_id = x AND level >= 1, then re-add) becomes
  *    filter-out + union + atomic swap;
  *  - merge-on-write (`MergingSolrSpewer.java`: fetch existing doc, merge a
  *    field, retry) becomes a full-outer merge on doc_id.
  *
  * On Iceberg these are `DELETE WHERE`/`MERGE INTO` with snapshot isolation;
  * here atomicity comes from write-to-temp + directory swap, the same
  * temp-then-atomic-rename discipline as the reference's artifact writes
  * (`EmbeddedArtifactWriter.java:35-68`).
  */
object Sink {

  /** Rewrite the trees rooted at `rootIds`: drop every existing row of
    * those trees (root row AND children — the stale-children delete), then
    * append `replacement`. All other rows are preserved byte-for-byte.
    */
  def replaceTrees(spark: SparkSession, path: String, rootIds: Seq[String],
                   replacement: DataFrame): Unit = {
    val existing = spark.read.parquet(path)
    // null-safe: !isInCollection is NULL for null roots and filter would
    // silently drop them; null-rooted rows must be preserved
    val kept = existing.filter(
      col("root_id").isNull || !col("root_id").isInCollection(rootIds))
    writeAtomic(spark, path, kept.unionByName(replacement))
  }

  /** Merge-on-write for a multi-valued field: rows in `updates` merge their
    * `paths` array into the existing row's (distinct, order-preserving),
    * new doc_ids are inserted — MergingSolrSpewer's fetch+merge+retry loop
    * as one deterministic join. Scope: operates on (doc_id, paths) tables;
    * a wider-schema merge belongs to Iceberg MERGE INTO.
    */
  def mergePaths(spark: SparkSession, path: String, updates: DataFrame): Unit = {
    val existing = spark.read.parquet(path)
    val merged = existing.alias("e")
      .join(updates.alias("u"), Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        array_distinct(concat(
          coalesce(col("e.paths"), array()),
          coalesce(col("u.paths"), array()))).as("paths"))
    writeAtomic(spark, path, merged)
  }

  /** Small-file compaction for an append-heavy parquet dir (the incremental
    * commit protocol appends run dirs; long-lived tables eventually want
    * fewer, larger files — on Iceberg this is rewrite_data_files). Sizes
    * the output file count from the actual on-disk bytes and rewrites
    * atomically via [[writeAtomic]]; COALESCE (not repartition) merges
    * splits map-side with no shuffle. Returns the output file count.
    */
  def compact(spark: SparkSession, path: String,
              targetBytesPerFile: Long = 128L << 20): Int = {
    val totalBytes = {
      def sizeOf(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
        else f.length()
      sizeOf(new java.io.File(path))
    }
    val nFiles = math.max(1, ((totalBytes + targetBytesPerFile - 1) / targetBytesPerFile).toInt)
    val df = spark.read.parquet(path).coalesce(nFiles)
    writeAtomic(spark, path, df)
    nFiles
  }

  /** FileSpewer analog (`FileSpewer.java:30-78`): one output file per
    * document (`<doc_id>.txt`, spans joined by newline), written from the
    * partitions. A per-document IO failure becomes a FAILURE_NOT_SAVED
    * status row — the spewer-failure branch of the taxonomy
    * (`ExtractionStatus.java:17`) — never a task failure; everything else
    * reports SUCCESS. Returns (doc_id, status).
    *
    * This is the per-doc ARTIFACT sink; table output goes through the
    * job-level atomic writes above (where a write failure is a job failure
    * that Spark retries, not a per-doc status).
    */
  def spewFiles(docs: org.apache.spark.sql.Dataset[graft.core.DocOut],
                dir: String): DataFrame =
    spew(docs, dir, ".txt", d => d.spans.iterator.map(_.text).mkString("\n"))

  /** Shared per-doc artifact writer. The filename derives from doc_id with
    * path-hazard characters rejected up front: an id that is not a plain
    * filename (separators, NUL, '..') is NOT_SAVED, never a path escape
    * outside `dir` and never a task failure (InvalidPathException is not
    * an IOException, so a catch-IOE-only loop would die on it).
    */
  private def spew(docs: org.apache.spark.sql.Dataset[graft.core.DocOut],
                   dir: String, ext: String,
                   render: graft.core.DocOut => String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Files.createDirectories(Paths.get(dir))
    docs.mapPartitions { it =>
      it.map { d =>
        val unsafe = d.doc_id.isEmpty || d.doc_id == "." || d.doc_id == ".." ||
          d.doc_id.exists(c => c == '/' || c == '\\' || c == '\u0000')
        if (unsafe) (d.doc_id, graft.core.Status.NotSaved)
        else
          try {
            Files.write(Paths.get(dir, d.doc_id + ext),
              render(d).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            (d.doc_id, graft.core.Status.Success)
          } catch {
            case _: java.io.IOException | _: java.nio.file.InvalidPathException =>
              (d.doc_id, graft.core.Status.NotSaved)
          }
      }
    }.toDF("doc_id", "status")
  }

  /** Sanitized-HTML rendering of one extracted document — the reference's
    * HTML output format (`HTML5Serializer.java`, Spewer outputFormat=HTML):
    * a full HTML5 document whose body carries one `<section>` per span in
    * emission order, every character of untrusted text ESCAPED (the
    * sanitize-by-construction policy: no tag from the source survives),
    * span text newlines as paragraphs, and media references as download
    * links (the EmbedLinker shape). Pure and golden-testable.
    */
  def renderHtml(d: graft.core.DocOut): String = {
    def esc(s: String): String = {
      val sb = new StringBuilder(s.length + 16)
      s.foreach {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '"' => sb.append("&quot;")
        case c => sb.append(c)
      }
      sb.toString
    }
    val body = d.spans.iterator.map { sp =>
      val paras = sp.text.split("\n", -1).iterator
        .map(l => s"<p>${esc(l)}</p>").mkString
      val media =
        if (sp.media_ref.isEmpty) ""
        else s"""<a href="${esc(sp.media_ref)}" download>${esc(sp.media_ref)}</a>"""
      s"""<section class="span" data-kind="${esc(sp.kind)}">$paras$media</section>"""
    }.mkString
    val reason =
      if (d.no_content_reason.isEmpty) ""
      else s"""<p class="no-content">${esc(d.no_content_reason)}</p>"""
    s"""<!DOCTYPE html><html><head><meta charset="UTF-8"/>""" +
      s"""<title>${esc(d.doc_id)}</title></head><body>$body$reason</body></html>"""
  }

  /** [[spewFiles]] with HTML output format: one sanitized `<doc_id>.html`
    * per document, same per-document NOT_SAVED isolation.
    */
  def spewHtmlFiles(docs: org.apache.spark.sql.Dataset[graft.core.DocOut],
                    dir: String): DataFrame =
    spew(docs, dir, ".html", renderHtml)

  /** Write df to a temp dir then swap it into place: the sink is never
    * half-written (readers see the previous dataset, a brief missing-dir
    * window during the swap, or the new dataset — never a mix), and a
    * crash mid-swap is self-healing: a stale `.old` left by an interrupted
    * swap is cleaned up at the start of the next write. On Iceberg this
    * whole dance is a snapshot commit.
    */
  def writeAtomic(spark: SparkSession, path: String, df: DataFrame): Unit = {
    val dest = Paths.get(path)
    val old = Paths.get(path + ".old")
    // recover from a crash between the two moves of a previous call
    if (Files.exists(old)) {
      if (!Files.exists(dest)) Files.move(old, dest, StandardCopyOption.ATOMIC_MOVE)
      else deleteRecursively(old)
    }
    // sweep orphaned temp dirs from crashed earlier writes
    val parent = dest.toAbsolutePath.getParent
    val tmpPrefix = dest.getFileName.toString + ".tmp-"
    if (parent != null && Files.isDirectory(parent)) {
      val s = Files.list(parent)
      try s.forEach { p =>
        if (p.getFileName.toString.startsWith(tmpPrefix)) deleteRecursively(p)
      } finally s.close()
    }
    val tmp = path + ".tmp-" + java.util.UUID.randomUUID().toString.take(8)
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    if (Files.exists(dest)) Files.move(dest, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), dest, StandardCopyOption.ATOMIC_MOVE)
    if (Files.exists(old)) deleteRecursively(old)
  }
}
