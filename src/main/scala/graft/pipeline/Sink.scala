package graft.pipeline

import java.nio.file.{Files, Paths}
import graft.catalog.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink-side merge semantics on a [[graft.catalog.SnapshotTable]] — the
  * Iceberg stand-in for the reference's index maintenance — plus the
  * per-document artifact spewers:
  *
  *  - stale-children delete before rewrite (`SolrSpewer.java:134-142`:
  *    delete WHERE root_id = x AND level >= 1, then re-add) becomes
  *    filter-out + union;
  *  - merge-on-write (`MergingSolrSpewer.java`: fetch existing doc, merge a
  *    field, retry) becomes a full-outer merge on doc_id;
  *  - small-file compaction becomes a coalesce.
  *
  * Each table op is one copy-on-write rewrite of the current snapshot,
  * published as the next snapshot by compare-and-set: a reader sees the
  * version before or after, never a mix; a reader pinned to an older
  * version keeps its files; and a racing commit forces a recompute on top
  * of the winner, so its rows are never lost. On Iceberg these are
  * `DELETE WHERE`/`MERGE INTO`/`rewrite_data_files`. Each op returns the
  * committed snapshot version, except [[compact]].
  */
object Sink {

  /** Rewrite the trees rooted at `rootIds` in `table`: drop every existing
    * row of those trees (root row AND children — the stale-children
    * delete), then append `replacement`. All other rows are preserved.
    */
  def replaceTrees(spark: SparkSession, table: String, rootIds: Seq[String],
                   replacement: DataFrame): Long =
    SnapshotTable.rewrite(spark, table, existing =>
      // null-safe: !isInCollection is NULL for null roots and filter would
      // silently drop them; null-rooted rows must be preserved
      existing.filter(col("root_id").isNull || !col("root_id").isInCollection(rootIds))
        .unionByName(replacement))

  /** Merge-on-write for a multi-valued field: rows in `updates` merge their
    * `paths` array into the existing row's (distinct, order-preserving),
    * new doc_ids are inserted — MergingSolrSpewer's fetch+merge+retry loop
    * as one deterministic join per commit attempt. Scope: operates on
    * (doc_id, paths) tables; a wider-schema merge belongs to Iceberg MERGE
    * INTO.
    */
  def mergePaths(spark: SparkSession, table: String, updates: DataFrame): Long =
    SnapshotTable.rewrite(spark, table, existing =>
      existing.alias("e")
        .join(updates.alias("u"), Seq("doc_id"), "full_outer")
        .select(
          col("doc_id"),
          array_distinct(concat(
            coalesce(col("e.paths"), array()),
            coalesce(col("u.paths"), array()))).as("paths")))

  /** Small-file compaction for an append-heavy table (every append lands a
    * dir, so a long-lived table eventually wants fewer, larger files — on
    * Iceberg this is rewrite_data_files). Sizes the output file count from
    * the bytes of the files the current snapshot lists — not of older
    * snapshots' dirs — and COALESCEs (not repartition) to it, merging splits
    * map-side with no shuffle. Returns the output file count.
    */
  def compact(spark: SparkSession, table: String,
              targetBytesPerFile: Long = 128L << 20): Int = {
    var nFiles = 1
    SnapshotTable.rewrite(spark, table, { current =>
      val totalBytes = current.inputFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
      nFiles = math.max(1, ((totalBytes + targetBytesPerFile - 1) / targetBytesPerFile).toInt)
      current.coalesce(nFiles)
    })
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
    * snapshot commits above (where a write failure is a job failure that
    * Spark retries, not a per-doc status).
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
}
