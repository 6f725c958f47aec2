package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Persisted vocabulary artifact — tokenizer ops at corpus scale: the
  * reference corpus's distinct-term set as an [[EpochStore]] epoch
  * artifact, probed for out-of-vocabulary rates batch by batch and
  * grown by absorbing what the probe saw. "How much of today's crawl
  * does the frozen tokenizer not know" becomes one term-keyed join
  * against the artifact instead of a rescan of corpus history.
  *
  * Merge law: set UNION — idempotent and commutative (the CRDT the
  * whole epoch family leans on), so absorb order and micro-batching
  * cannot change the artifact, and a replayed batch is harmless even
  * before the cursor check short-circuits it. Tokenization is the
  * exact-decon family's (trim/lower/\s+), shared with
  * [[TextAnalysis.oovRates]] so the artifact probe and the
  * two-DataFrame form agree bit-for-bit.
  *
  * Payload size: one row per distinct term. A 100 TB corpus's
  * word-level vocabulary is tens of millions of rows (~hundreds of
  * MB) — within the epoch store's one-file payload contract, far
  * under its CMS/KLL siblings' theoretical maxima, and the probe
  * side joins it by term (hash join; never broadcast, never
  * collected).
  */
object VocabIndex {

  private def distinctTerms(docs: DataFrame, textCol: String): DataFrame =
    TextAnalysis.corpusTerms(docs, textCol).distinct()

  /** Write a fresh vocabulary of `textCol` over `docs` (epoch 0). */
  def build(docs: DataFrame, textCol: String, path: String): Unit =
    EpochStore.build(docs.sparkSession, path, distinctTerms(docs, textCol),
      Map.empty)

  /** Load the live epoch's term set. Fails if no committed meta. */
  def load(spark: SparkSession, path: String): DataFrame =
    EpochStore.load(spark, path)._2

  /** OOV rates of a batch against the frozen artifact — one row
    * (n_tokens, n_types, oov_tokens, oov_types, token_rate,
    * type_rate), the [[TextAnalysis.oovRatesVsVocab]] arithmetic.
    */
  def oov(batch: DataFrame, textCol: String, path: String): DataFrame =
    TextAnalysis.oovRatesVsVocab(batch, textCol,
      load(batch.sparkSession, path))

  /** Grow the vocabulary by a batch (the train-then-track loop's
    * batch API; no stream cursor — use [[ingestBatch]] under a
    * streaming query). Fails when nothing is committed at `path`.
    */
  def absorb(batch: DataFrame, textCol: String, path: String): Unit =
    absorbUnion(batch, textCol, path, None)

  /** Absorb ONE stream micro-batch exactly-once under the committed
    * `last_batch_id` cursor — the ingestCmsBatch contract: replays
    * no-op, a reset cursor fails loud, every crash window leaves a
    * loadable artifact. (Union-merge is idempotent anyway; the cursor
    * keeps the FAILURE MODES loud and the version history honest.)
    */
  def ingestBatch(
      batch: DataFrame, textCol: String, path: String,
      batchId: Long): Unit =
    absorbUnion(batch, textCol, path, Some(batchId))

  /** Set-union `batch`'s terms into the live epoch; only a cursor
    * ingest may initialize an empty `path`.
    */
  private def absorbUnion(
      batch: DataFrame, textCol: String, path: String,
      batchId: Option[Long]): Unit = {
    val spark = batch.sparkSession
    EpochStore.append(spark, path, batchId, "vocabulary") { cursor =>
      require(batchId.isDefined, s"no vocabulary committed at $path")
      EpochStore.build(spark, path, distinctTerms(batch, textCol),
        Map.empty, cursor)
    } { (_, stored) =>
      stored.unionByName(distinctTerms(batch, textCol))
        .distinct().localCheckpoint()
    }
  }

  /** Streaming vocabulary ingestion — [[ingestBatch]] per micro-batch.
    * Caller starts the returned writer with a durable checkpoint.
    */
  def ingestStream(
      stream: DataFrame,
      textCol: String,
      path: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ingestBatch(batch.toDF(), textCol, path, batchId)
    }
}
