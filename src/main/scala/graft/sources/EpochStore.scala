package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned-epoch artifact lifecycle — the shared layout and commit of
  * the bounded stores: the HLL, CMS, quantile-summary, KLL and drift-bin
  * sketches of [[graft.operators.Sketches]], the sample index of
  * [[graft.operators.Sampling]], the Bloom filter of [[DeconIndex]] and
  * the term set of [[VocabIndex]]:
  *
  *   registers_v{N}/   payload parquet for epoch N
  *   meta              store parameters + `version` + `last_batch_id`
  *                     (-1 unless a stream cursor set it) + the live
  *                     epoch's schema, one [[Commit.writeMeta]] file —
  *                     the commit pointer, written LAST
  *
  * Each store names only its parameters (once, at [[build]]), its
  * payload and its merge law; [[build]], [[load]] and [[append]] own
  * the rest, and every epoch carries the parameters forward.
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

  private def metaDir(path: String): String = s"$path/meta"

  private def epochPath(path: String, version: Long): String =
    s"$path/registers_v$version"

  /** The committed meta and the live epoch's payload. Fails loudly
    * when nothing is committed.
    */
  def load(
      spark: SparkSession, path: String): (Map[String, String], DataFrame) = {
    val m = Commit.readMeta(spark, metaDir(path))
    (m, liveEpoch(spark, path, m))
  }

  /** The epoch `m` names, opened with the schema `m` recorded. */
  private def liveEpoch(
      spark: SparkSession, path: String, m: Map[String, String]): DataFrame =
    Commit.open(spark, m, "registers", epochPath(path, m("version").toLong))

  /** Build epoch 0: `payload` under the store's `params`. */
  def build(
      spark: SparkSession,
      path: String,
      payload: DataFrame,
      params: Map[String, Any],
      lastBatchId: Long = -1L): Unit =
    writeEpoch(spark, path, payload, params, 0L, lastBatchId)

  /** Absorb one batch. With no committed meta the torn-flip guard runs
    * ([[requireInitializable]]) and `init` builds epoch 0 under the
    * cursor `batchId` (-1 without one). Otherwise the meta is read once
    * and `check`ed (key-column mismatches are caller bugs and fail
    * first); a cursor store (`batchId` given) then no-ops on a replayed
    * id and fails LOUD on a reset cursor (a lost/re-created checkpoint
    * restarts ids — continuing would silently drop every
    * already-numbered batch; `what` names the artifact in that
    * message). Last, `merge` gets the meta and the live epoch (read on
    * first use) and returns the merged payload, committed as
    * `version + 1` under the same parameters, carrying `batchId` or
    * else the stored cursor. The merged payload must be MATERIALIZED
    * (localCheckpoint): its plan reads the epoch the commit's cleanup
    * deletes.
    *
    * Crash windows: before the commit's meta delete, the old meta still
    * points at the old epoch and a replay re-merges from unchanged
    * state; inside the (delete → rename) instant no meta exists and the
    * replay fails loud on the torn-flip guard (the one window that needs
    * manual recovery); after the flip the cursor has advanced and a
    * replay no-ops. Requires monotone batch ids per artifact — true for
    * one Structured Streaming query per path; two concurrent writers
    * are out of contract.
    */
  def append(
      spark: SparkSession,
      path: String,
      batchId: Option[Long] = None,
      what: String = "epoch store",
      check: Map[String, String] => Unit = _ => ())(
      init: Long => Unit)(
      merge: (Map[String, String], => DataFrame) => DataFrame): Unit = {
    if (!Commit.exists(spark, metaDir(path))) {
      requireInitializable(spark, path)
      init(batchId.getOrElse(-1L))
      return
    }
    val m = Commit.readMeta(spark, metaDir(path))
    check(m)
    val last = m("last_batch_id").toLong
    if (batchId.contains(last)) return
    batchId.foreach(id => require(id > last,
      s"$what at $path has absorbed through stream batch $last but " +
        s"received batch $id — the stream's checkpoint was lost " +
        "or reset (ids restarted); continuing would silently drop " +
        "every already-numbered batch. Point the query at its " +
        "original checkpoint, or rebuild the artifact."))
    val v = m("version").toLong
    lazy val stored = liveEpoch(spark, path, m)
    writeEpoch(spark, path, merge(m, stored), m, v + 1L,
      batchId.getOrElse(last))
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
  private def requireInitializable(spark: SparkSession, path: String): Unit = {
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

  /** Commit one epoch: payload first, then meta (the store's
    * parameters plus `version`, `last_batch_id` and the payload's
    * schema) flipped last by
    * [[Commit.writeMeta]]'s delete + rename, so the no-meta window is
    * that instant; a crash inside it leaves epoch payloads intact and
    * the append paths refuse to re-initialize
    * ([[requireInitializable]]). Stale epochs are cleaned after (a
    * leftover directory is inert — meta names the live epoch — and the
    * next commit retries the delete).
    */
  private def writeEpoch(
      spark: SparkSession,
      path: String,
      payload: DataFrame,
      params: Map[String, Any],
      version: Long,
      lastBatchId: Long): Unit = {
    // bounded payload: one file
    payload.coalesce(1).write.mode("overwrite")
      .parquet(epochPath(path, version))
    Commit.writeMeta(spark, metaDir(path), params ++
      Map("version" -> version, "last_batch_id" -> lastBatchId,
        Commit.schemaEntry("registers", payload)))
    val f = Commit.fs(spark, path)
    f.listStatus(new org.apache.hadoop.fs.Path(path)).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("registers_v") && n != s"registers_v$version")
        f.delete(st.getPath, true)
    }
  }
}
