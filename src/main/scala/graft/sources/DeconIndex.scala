package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{bloomContainsBcast, bloomPositions}

/** Persisted decontamination index — the FROZEN-probe artifact behind
  * exact n-gram decontamination at ingest scale. The batch operators
  * ([[graft.operators.Dedup.decontaminateExact]] and its Bloom-
  * prefiltered huge-probe form) recompute the probe's gram set on
  * every call; a standing pipeline decontaminating daily crawl batches
  * (and its ingest stream) against the SAME eval suites / held-out
  * corpus should pay that cost once. This artifact freezes the probe
  * side — the distinct normalized word-`n`-gram keys plus a Bloom
  * filter over them — so every later batch pays only its own scan.
  *
  * Layout under `path`:
  *
  *  - `grams/`: parquet of the distinct 16-byte gram keys absorbed so
  *    far ([[graft.operators.Dedup.normalizedGramHashes]] — the ONE
  *    gram definition of the exact-decon family, so this index, the
  *    batch operators, and their shared oracles can never drift).
  *    Append-only; the EXACT confirm side of every probe join.
  *  - `registers_v{N}/` + `meta`: the Bloom filter words `(w, bits)`
  *    over those keys plus `(n, m_bits, k, version)`, committed under
  *    the [[EpochStore]] versioned-epoch layout (filter tables are
  *    bounded — `mBits/64` rows — so epoch rewrites cost nothing).
  *
  * The Bloom filter GATES VISIBILITY: a corpus gram reaches the exact
  * confirm join only if the filter passes it, and the filter is the
  * committed epoch's. That one fact makes appends replay-safe with NO
  * marker protocol: [[appendProbe]] lands fresh gram files FIRST and
  * flips the filter epoch LAST, so a crash between the two leaves
  * extra gram keys that no committed filter ever passes — the artifact
  * stays loadable at exactly the pre-append state, and re-running the
  * same append converges (the fresh-key anti-join finds the orphaned
  * keys already present and appends nothing twice; the filter OR is
  * idempotent). The same idempotence makes streaming ingestion
  * ([[graft.streaming.StreamingDedup.probeIngestStream]]) marker-free
  * under at-least-once replay, like the HLL register store and unlike
  * the CMS sum.
  *
  * Probe semantics are EXACT for any `mBits`/`k` — false positives
  * cost confirm-join rows, never documents (the transparent-prefilter
  * contract of [[graft.functions.BloomContainsExpr]]); the gates share
  * `decontaminate_exact`'s oracle verbatim. Scale shape of
  * [[decontaminateBatch]]: the filter ships once per executor as a
  * broadcast (~`mBits/8` bytes regardless of probe size), the corpus
  * gram stream shrinks AT SCAN TIME to contaminated-plus-fp keys, and
  * only that residue meets the gram artifact in a shuffled semi join —
  * the artifact streams, the corpus never shuffles whole.
  */
object DeconIndex {

  /** A loaded index: gram-length `n`, filter geometry, the filter
    * words (dense, `mBits/64` longs), and the gram-key frame.
    */
  final case class LoadedDecon(
      n: Int,
      mBits: Int,
      k: Int,
      words: Array[Long],
      grams: DataFrame,
      version: Long)

  private def gramsOf(df: DataFrame, textCol: String, n: Int): DataFrame =
    graft.operators.Dedup.normalizedGramHashes(df, textCol, n)
      .select(col("__h")).distinct()

  /** The filter as rows `(w, bits)` — built distributed (position
    * fan-out + per-word `bit_or`), absent rows meaning zero words.
    */
  private def wordsFrame(grams: DataFrame, mBits: Int, k: Int): DataFrame =
    grams
      .select(explode(bloomPositions(col("__h"), mBits, k)).as("pos"))
      .select((col("pos") / 64).cast("long").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("bits"))

  private def checkGeom(n: Int, mBits: Int, k: Int): Unit = {
    require(n >= 2, "n must be >= 2")
    require(mBits > 0 && mBits % 64 == 0,
      "mBits must be a positive multiple of 64")
    require(k >= 1 && k <= 16, "k must be in [1,16]")
  }

  /** Build a fresh index over `probe` at `path` (epoch 0). Size
    * `mBits` ≥ ~10× the probe's expected distinct gram count to keep
    * the confirm join's false-positive residue below a percent —
    * correctness never depends on it.
    */
  def build(
      probe: DataFrame,
      textCol: String,
      path: String,
      n: Int = 13,
      mBits: Int = 1 << 20,
      k: Int = 4): Unit = {
    checkGeom(n, mBits, k)
    val spark = probe.sparkSession
    // one gram pass feeds both the key artifact and the filter build
    val g = gramsOf(probe, textCol, n).localCheckpoint()
    g.write.mode("overwrite").parquet(s"$path/grams")
    EpochStore.build(spark, path, wordsFrame(g, mBits, k),
      Map("n" -> n, "m_bits" -> mBits, "k" -> k))
  }

  /** Load the committed index. Fails loudly when no meta committed. */
  def load(spark: SparkSession, path: String): LoadedDecon = {
    val (m, epoch) = EpochStore.load(spark, path)
    val (n, mBits, k, v) = (m("n").toInt, m("m_bits").toInt,
      m("k").toInt, m("version").toLong)
    val words = new Array[Long](mBits / 64)
    epoch.collect()
      .foreach(r => words(r.getAs[Long]("w").toInt) = r.getAs[Long]("bits"))
    LoadedDecon(n, mBits, k, words,
      spark.read.parquet(s"$path/grams"), v)
  }

  /** Absorb a new probe batch (another eval suite, the next slice of a
    * held-out corpus): only keys the index has never seen land as new
    * gram files — the batch's keys broadcast against the STREAMED gram
    * artifact (no artifact shuffle) — and the filter epoch re-commits
    * with the batch OR-ed in. Geometry comes from the artifact's own
    * meta; cost is O(batch + mBits/64), the absorbed history is never
    * rescanned. Replay-safe without markers — see the object doc (the
    * committed filter gates visibility; the anti-join makes the file
    * append converge; the OR is idempotent).
    */
  def appendProbe(
      newProbe: DataFrame,
      textCol: String,
      path: String,
      n: Int = 13,
      mBits: Int = 1 << 20,
      k: Int = 4): Unit = {
    val spark = newProbe.sparkSession
    // cold start (stream batch 0): initialize, geometry from the
    // arguments — an EXISTING artifact's meta governs every later append
    EpochStore.append(spark, path)(
      _ => build(newProbe, textCol, path, n, mBits, k)) { (m, stored) =>
      val (mn, mMBits, mK) = (m("n").toInt, m("m_bits").toInt,
        m("k").toInt)
      val batch = gramsOf(newProbe, textCol, mn).localCheckpoint()
      val indexGrams = spark.read.parquet(s"$path/grams")
      // matched ≤ batch size: the artifact streams through one
      // broadcast-batch semi join, then broadcasts back for the anti
      val matched = indexGrams
        .join(broadcast(batch), Seq("__h"), "left_semi")
        .distinct().localCheckpoint()
      val fresh = batch.join(broadcast(matched), Seq("__h"), "left_anti")
      // the gram append and the merged-filter materialization both derive
      // only from already-checkpointed frames + the OLD epoch, so they
      // run OVERLAPPED (guide §2.6); the epoch COMMIT after this merge —
      // the visibility gate the replay protocol rests on — still lands
      // strictly after both (a filter bit must never become visible
      // before its gram row is on disk, or the confirm join would
      // false-negative)
      val mergedSlot =
        new java.util.concurrent.atomic.AtomicReference[DataFrame]()
      Commit.runAll(Seq(
        () => fresh.write.mode("append").parquet(s"$path/grams"),
        () => mergedSlot.set(stored
          .unionByName(wordsFrame(batch, mMBits, mK))
          .groupBy(col("w")).agg(expr("bit_or(bits)").as("bits"))
          .localCheckpoint())))
      mergedSlot.get()
    }
  }

  /** Decontaminate one corpus batch against the frozen index: drop
    * every document sharing ≥ 1 exact normalized word `n`-gram with
    * anything absorbed — [[graft.operators.Dedup.decontaminateExact]]'s
    * semantics (and oracle) without recomputing the probe side. The
    * index is read-only here; a replayed call recomputes the identical
    * survivor set.
    */
  def decontaminateBatch(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String): DataFrame = {
    val spark = corpus.sparkSession
    val idx = load(spark, path)
    val bc = spark.sparkContext.broadcast(idx.words)
    val contaminated = graft.operators.Dedup
      .normalizedGramHashes(corpus, textCol, idx.n, col(idCol))
      .filter(bloomContainsBcast(col("__h"), bc, idx.k))
      .join(idx.grams, Seq("__h"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }
}
