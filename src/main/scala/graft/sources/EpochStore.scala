package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned-epoch artifact commit — the shared layout under
  * [[graft.operators.Sketches]]' sketch stores and
  * [[graft.operators.Sampling]]'s sample index:
  *
  *   registers_v{N}/   payload parquet for epoch N
  *   meta/             sketch parameters + `version` — the commit
  *                     pointer, written LAST
  *
  * The new epoch directory is written FIRST (old epoch untouched), meta
  * flips to it atomically last, and stale epochs are best-effort cleaned
  * afterwards — every crash window leaves a LOADABLE artifact (either
  * the old epoch or the new one), which matters for incremental
  * artifacts whose value is the history they have already absorbed.
  * Contrast the Packs/DedupIndex tombstone order (fail-loud-but-lossy):
  * corpus-sized artifacts cannot afford the full rewrite an epoch
  * commit implies, and append files instead; everything committed here
  * is BOUNDED (≤ 2^p registers, depth·width counters, k sample rows),
  * so rewriting per epoch costs nothing.
  */
private[graft] object EpochStore {

  /** The committed meta row; AnalysisException when nothing committed. */
  def readMeta(spark: SparkSession, path: String): org.apache.spark.sql.Row =
    spark.read.parquet(s"$path/meta").head()

  def hasMeta(spark: SparkSession, path: String): Boolean =
    try { readMeta(spark, path); true }
    catch { case _: org.apache.spark.sql.AnalysisException => false }

  /** True when `path` holds any committed epoch payload directory. */
  def hasEpochDirs(spark: SparkSession, path: String): Boolean = {
    val f = Commit.fs(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    f.exists(base) &&
      f.listStatus(base).exists(_.getPath.getName.startsWith("registers_v"))
  }

  /** Guard for append-path initialization: a store with NO meta but
    * WITH epoch directories beyond `registers_v0` is a crash remnant of
    * the (tiny) meta-flip window on an artifact that HAD absorbed
    * history — silently re-initializing it would discard that history,
    * so callers fail loud (recovery: re-point meta at the surviving
    * epoch, or rebuild from source). A lone `registers_v0` with no meta
    * is the OTHER crash window — the initial build died before its
    * first commit — and carries no committed history at all, so
    * re-initialization is permitted: this is what lets a cold-start
    * stream's batch-0 replay self-heal without a marker protocol.
    */
  def requireInitializable(spark: SparkSession, path: String): Unit = {
    val f = Commit.fs(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    val epochs =
      if (!f.exists(base)) Seq.empty[String]
      else f.listStatus(base).map(_.getPath.getName)
        .filter(_.startsWith("registers_v")).toSeq
    require(epochs.forall(_ == "registers_v0"),
      s"epoch store at $path has payload directories (${epochs.sorted
        .mkString(", ")}) but no committed meta (torn meta flip) — " +
        "refusing to silently re-initialize over absorbed history; " +
        "restore meta or delete the directory")
  }

  def epochPath(path: String, version: Long): String =
    s"$path/registers_v$version"

  /** The exactly-once stream-cursor skeleton shared by the epoch
    * artifacts (CMS counters, drift bins, vocabulary): initialize when
    * no meta is committed, no-op on a replayed batch id, fail LOUD on
    * a reset cursor (a lost/re-created checkpoint restarts ids —
    * continuing would silently drop every already-numbered batch),
    * delegate the merge otherwise. `what` names the artifact in the
    * failure message. KLL keeps its own variant: an optional cursor
    * for batch-mode absorbs plus key-schema validation interleaved
    * with the cursor checks.
    */
  def ingestWithCursor(
      spark: SparkSession, path: String, batchId: Long, what: String)(
      init: () => Unit)(
      merge: org.apache.spark.sql.Row => Unit): Unit = {
    if (!hasMeta(spark, path)) {
      requireInitializable(spark, path)
      init()
      return
    }
    val m = readMeta(spark, path)
    val last =
      if (m.schema.fieldNames.contains("last_batch_id"))
        m.getAs[Long]("last_batch_id")
      else -1L
    if (batchId == last) return
    require(batchId > last,
      s"$what at $path has absorbed through stream batch $last but " +
        s"received batch $batchId — the stream's checkpoint was lost " +
        "or reset (ids restarted); continuing would silently drop " +
        "every already-numbered batch. Point the query at its " +
        "original checkpoint, or rebuild the artifact.")
    merge(m)
  }

  /** Commit one epoch: payload first, meta (carrying `version` plus
    * store-specific parameters) flipped last VIA RENAME — the meta
    * parquet is staged to a temp directory and moved into place, so
    * the no-meta window is the delete+rename instant, not a full
    * parquet job; a crash inside even that instant leaves epoch
    * payloads intact and the append paths refuse to re-initialize
    * ([[requireInitializable]]). Stale epochs are cleaned after (a
    * leftover directory is inert — meta names the live epoch — and the
    * next commit retries the delete).
    */
  def writeEpoch(
      spark: SparkSession,
      path: String,
      payload: DataFrame,
      meta: DataFrame,
      version: Long): Unit = {
    // bounded payload: one file
    payload.coalesce(1).write.mode("overwrite")
      .parquet(epochPath(path, version))
    val f = Commit.fs(spark, path)
    val metaDir = new org.apache.hadoop.fs.Path(s"$path/meta")
    val tmpDir = new org.apache.hadoop.fs.Path(s"$path/meta_tmp_$version")
    meta.coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
    f.delete(metaDir, true)
    if (!f.rename(tmpDir, metaDir))
      throw new java.io.IOException(
        s"epoch store at $path: meta rename failed mid-commit")
    val base = new org.apache.hadoop.fs.Path(path)
    if (f.exists(base)) f.listStatus(base).foreach { st =>
      val n = st.getPath.getName
      if ((n.startsWith("registers_v") &&
            n.stripPrefix("registers_v") != version.toString) ||
          (n.startsWith("meta_tmp_") &&
            n.stripPrefix("meta_tmp_") != version.toString))
        f.delete(st.getPath, true)
    }
  }
}
