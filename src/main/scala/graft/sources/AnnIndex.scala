package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistence for trained ANN index artifacts — the
  * train-once-search-many production shape. An IVF(-PQ) index is three
  * artifacts plus a parameter record:
  *
  *  - `centroids`: the coarse quantizer, `(centroid_id, __cv)` — small
  *    by the IVF contract (it is broadcast and driver-folded at search);
  *  - `codebook`: the PQ sub-quantizer, `nCodes` rows of flattened
  *    sub-centroids — tiny;
  *  - `codes`: the encoded corpus `(neighbor_id, centroid_id, codes)` —
  *    the ONLY corpus-sized piece, m ints per vector (~32× smaller than
  *    the float vectors it replaces);
  *  - `meta`: `(m, n_codes, residual)` ([[Commit.writeMeta]]) so a
  *    loader cannot silently mis-pair a residual-coded corpus with the
  *    raw-vector search path.
  *
  * [[write]]/[[load]] round-trip the artifacts as parquet under one
  * base path: doubles round-trip bit-exactly, so a loaded search
  * returns the SAME rows as the in-session pipeline that trained it
  * ([[graft.operators.Similarity.ivfPqTopKEncoded]] /
  * `ivfPqResidualTopKEncoded` consume nothing but these frames). Codes
  * are laid out clustered by `centroid_id` — the search join key — so
  * per-cell scans prune.
  */
object AnnIndex {

  /** A loaded index: everything the encoded search paths need. */
  final case class Loaded(
      centroids: DataFrame,
      codebook: Array[Array[Double]],
      codes: DataFrame,
      m: Int,
      residual: Boolean)

  def write(
      path: String,
      centroids: DataFrame,
      codebook: Array[Array[Double]],
      codes: DataFrame,
      m: Int,
      residual: Boolean): Unit = {
    require(codebook.nonEmpty, "empty codebook")
    val spark = centroids.sparkSession
    import spark.implicits._
    // meta tombstone first / rewrite last (the family discipline): a
    // crash mid-write leaves load() failing loudly on the missing meta
    // instead of pairing stale parameters with half-written artifacts
    Commit.tombstone(spark, s"$path/meta")
    // the three artifacts are independent — overlap their write jobs
    // (guide §2.6) instead of paying three job tails back to back;
    // small artifacts stay one file each (no point fanning out k rows)
    Commit.runAll(Seq(
      () => centroids.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/centroids"),
      () => codebook.zipWithIndex
        .map { case (v, c) => (c, v.toSeq) }.toSeq
        .toDF("code", "vals")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook"),
      // corpus codes: cluster files by the search join key so a probe
      // of p cells reads ~p/cells of the data (row-group pruning on
      // the sorted column), not the whole corpus
      () => codes.repartition(col("centroid_id"))
        .sortWithinPartitions("centroid_id")
        .write.mode("overwrite").parquet(s"$path/codes")))
    Commit.writeMeta(spark, s"$path/meta",
      Map("m" -> m, "n_codes" -> codebook.length, "residual" -> residual))
  }

  /** Encode a NEW vector batch against the FROZEN artifacts of a
    * persisted index and append its codes — the crawl-pipeline
    * increment: a daily batch joins the searchable corpus without
    * retraining the coarse quantizer or codebook (exactly how a frozen
    * FAISS index absorbs `add()`). Reads meta/centroids/codebook only;
    * the appended files keep the clustered-by-`centroid_id` layout, so
    * row-group pruning holds for old and new files alike. Atomicity is
    * parquet-append atomicity (a concurrent search sees whole files or
    * not yet — never torn rows); compaction, if ever needed, is a
    * rewrite of `codes/` with the same `write` call.
    *
    * Recall note (inherent to frozen-quantizer append, worth stating):
    * centroids stop reflecting the corpus distribution as it drifts —
    * the standard practice this mirrors is append daily, retrain on a
    * schedule.
    *
    * `numFiles` bounds the parquet files each append adds (default 32):
    * left at `spark.sql.shuffle.partitions`, a year of daily batches
    * would leave tens of thousands of small files in `codes/` and every
    * later load pays the listing/scan tax.
    *
    * Id disjointness is the CALLER's contract by default —
    * append-after-retry with an already-committed batch duplicates
    * those ids in search results. `dedupeIds = true` makes the append
    * replay-safe: the batch is LEFT ANTI joined against the persisted
    * codes' ids before encoding, so re-running a committed append is a
    * no-op. OFF by default because the anti-join scans the id column of
    * every codes file per append (column-pruned — ids only, not the
    * code payloads — but still a corpus-length pass a pipeline with
    * exactly-once upstream bookkeeping shouldn't pay).
    */
  def append(
      spark: SparkSession,
      path: String,
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      numFiles: Int = 32,
      dedupeIds: Boolean = false): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    val idx = load(spark, path)
    val batch =
      if (dedupeIds)
        newVecs.join(
          idx.codes.select(col("neighbor_id").as(idCol)),
          Seq(idCol), "left_anti")
      else newVecs
    val enc0 =
      if (idx.residual)
        graft.operators.Similarity.ivfPqResidualEncode(
          batch, idCol, vecCol, idx.centroids, idx.codebook, idx.m)
      else
        graft.operators.Similarity.ivfPqEncode(
          batch, idCol, vecCol, idx.centroids, idx.codebook, idx.m)
    // the dedupe anti-join READS $path/codes and the append WRITES the
    // same directory: materialize the encoded batch (eager local
    // checkpoint) so the codes scan completes before any append file
    // lands — otherwise a recomputed scan (task retry, object-store
    // listing) could observe the directory mid-append and double-read
    // or list partially-committed files
    val enc = if (dedupeIds) enc0.localCheckpoint() else enc0
    enc.repartition(numFiles, col("centroid_id"))
      .sortWithinPartitions("centroid_id")
      .write.mode("append").parquet(s"$path/codes")
  }

  /** Rebuild the quantizers from the CURRENT corpus and atomically
    * swap the index — the scheduled-retrain half of the
    * append-daily-retrain-on-a-cadence practice [[append]]'s recall
    * note documents: appends encode against FROZEN centroids/codebook,
    * so as the corpus drifts the quantizers stop reflecting it and
    * recall decays; retrain is the reset. `m` and `residual` survive
    * from meta (they are the search path's contract); everything else
    * — coarse centroids, PQ codebook, every corpus code — is rebuilt
    * from the float vectors the caller supplies (`corpus` — PQ codes
    * are lossy, so retraining NEEDS the source vectors; an index is
    * derived data, never the vector store of record).
    *
    * Quantizer choice is policy, so it arrives as closures:
    * `trainCentroids(corpus)` returns the new `(centroid_id, __cv)`
    * frame; `trainCodebook(pqFrame, centroids)` returns the new
    * codebook, where `pqFrame` is ALREADY the frame PQ will encode —
    * the corpus itself, or (for a residual index) the per-vector
    * residuals against the new centroids, derived here so the closure
    * cannot train on the wrong frame. The no-closure overload wires in
    * the library trainers ([[graft.operators.Similarity
    * .trainCentroids]] k-means + [[graft.operators.Similarity
    * .pqTrainCodebook]] per-subspace Lloyd).
    *
    * Atomicity: the [[Commit.swapCompacted]] meta-tombstone
    * discipline — all three artifacts stage to side directories first
    * (training and encode scan only `corpus`, never a directory being
    * written), meta deletes, the artifacts swap, meta writes last. A
    * crash anywhere leaves [[load]] failing loudly on a missing
    * meta — never live meta over a half-swapped index.
    */
  def retrain(
      spark: SparkSession,
      path: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      trainCentroids: DataFrame => DataFrame,
      trainCodebook: (DataFrame, DataFrame) => Array[Array[Double]],
      numFiles: Int = 32): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    import spark.implicits._
    // meta only — NOT load(): retrain rebuilds the centroids, codebook
    // and codes from scratch, so collecting the old codebook (one more
    // driver job per retrain) and opening the old artifact frames would
    // be pure waste; only the search contract (m, residual) survives
    val meta = Commit.readMeta(spark, s"$path/meta")
    val (m, residual) = (meta("m").toInt, meta("residual").toBoolean)
    // Materialized ONCE: three downstream actions (codebook collect,
    // centroids write, codes write) would otherwise each re-run the
    // trainer, and avg-based k-means is shuffle-order sensitive — the
    // persisted centroids could differ bitwise from the ones the
    // codebook/codes were trained against.
    val centroids = trainCentroids(corpus)
      .select(col("centroid_id"), col("__cv"))
      .localCheckpoint()
    // the frame the codebook must model = the frame the encode will
    // quantize (residual indexes train on x − c, raw ones on x)
    val pqFrame =
      if (residual)
        graft.operators.Similarity
          .ivfAssign(corpus, idCol, vecCol, centroids)
          .join(broadcast(centroids), Seq("centroid_id"))
          .select(col(idCol),
            zip_with(col(vecCol).cast("array<double>"),
              col("__cv").cast("array<double>"), (x, c) => x - c)
              .as(vecCol))
      else corpus
    val cb = trainCodebook(pqFrame, centroids)
    require(cb.nonEmpty, "empty retrained codebook")
    val codes =
      if (residual)
        graft.operators.Similarity.ivfPqResidualEncode(
          corpus, idCol, vecCol, centroids, cb, m)
      else
        graft.operators.Similarity.ivfPqEncode(
          corpus, idCol, vecCol, centroids, cb, m)
    Commit.swapCompacted(spark, path, Seq(
      "centroids" -> centroids.coalesce(1),
      "codebook" -> cb.zipWithIndex.map { case (v, c) => (c, v.toSeq) }.toSeq
        .toDF("code", "vals").coalesce(1),
      "codes" -> codes.repartition(numFiles, col("centroid_id"))
        .sortWithinPartitions("centroid_id")),
      s"$path/meta", meta + ("n_codes" -> cb.length))
  }

  /** [[retrain]] with the library's own trainers: coarse centroids by
    * `kCentroids`-means ([[graft.operators.Similarity
    * .trainCentroids]]), codebook by per-subspace Lloyd over the
    * encode frame ([[graft.operators.Similarity.pqTrainCodebook]],
    * re-using the persisted index's `m`).
    */
  def retrain(
      spark: SparkSession,
      path: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      kCentroids: Int,
      kmeansIters: Int,
      pqK: Int,
      pqIters: Int,
      pqSampleFraction: Double,
      numFiles: Int): Unit = {
    val m = Commit.readMeta(spark, s"$path/meta")("m").toInt
    retrain(spark, path, corpus, idCol, vecCol,
      c => graft.operators.Similarity.trainCentroids(
        c, idCol, vecCol, kCentroids, kmeansIters),
      (f, _) => graft.operators.Similarity.pqTrainCodebook(
        f, idCol, vecCol, m, pqK, pqIters, pqSampleFraction),
      numFiles)
  }

  /** Fold the append-accumulated `codes/` files back to the build
    * layout — the ANN leg of the family-wide compaction discipline
    * ([[DedupIndex.compact]] and siblings): every [[append]] adds up
    * to `numFiles` files, so a year of daily batches leaves thousands
    * of small files whose listing/open tax every later search load
    * pays. Codes rows are the DATA here (no membership semantics to
    * fold), so the rewrite only restores file count and the
    * clustered-by-`centroid_id` layout — search results are
    * bit-identical before and after. Same meta-tombstone swap as the
    * dedup families: a crash mid-compact leaves [[load]] failing
    * loudly, never live meta over half-swapped codes.
    *
    * Caller-error duplicates (an un-deduped replayed append) are NOT
    * folded — they are real rows to this artifact; run [[append]] with
    * `dedupeIds = true` if upstream bookkeeping can replay.
    */
  def compact(spark: SparkSession, path: String, numFiles: Int = 32): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    val meta = Commit.readMeta(spark, s"$path/meta")
    Commit.swapCompacted(spark, path, Seq(
      "codes" -> spark.read.parquet(s"$path/codes")
        .repartition(numFiles, col("centroid_id"))
        .sortWithinPartitions("centroid_id")),
      s"$path/meta", meta)
  }

  def load(spark: SparkSession, path: String): Loaded = {
    val meta = Commit.readMeta(spark, s"$path/meta")
    val m = meta("m").toInt
    val nCodes = meta("n_codes").toInt
    val residual = meta("residual").toBoolean
    val cbRows = spark.read.parquet(s"$path/codebook").collect()
    require(cbRows.length == nCodes,
      s"codebook has ${cbRows.length} rows, meta declares $nCodes")
    val codebook = new Array[Array[Double]](nCodes)
    cbRows.foreach { r =>
      codebook(r.getAs[Int]("code")) = r.getSeq[Double](1).toArray
    }
    require(codebook.forall(_ != null), "codebook has gaps")
    Loaded(
      centroids = spark.read.parquet(s"$path/centroids"),
      codebook = codebook,
      codes = spark.read.parquet(s"$path/codes"),
      m = m,
      residual = residual)
  }
}
