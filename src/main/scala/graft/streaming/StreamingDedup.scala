package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** Streaming ingest-time deduplication for a training-data pipeline: the
  * incremental form of `Dedup.dropDuplicatesExact` — a document stream in,
  * first occurrence of each content out. Not part of the reference
  * surface (it has no streaming); designed on Structured Streaming's
  * keyed-state dedup operators.
  *
  * Scale design: state is one entry per distinct content *hash* (16
  * bytes of md5 + key overhead), never the text itself; the near-dup
  * streams keep one long per live band bucket and evict it by
  * event-time watermark, so their state is bounded by the horizon.
  */
object StreamingDedup {

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** First-seen exact dedup over a document stream: keep a row only if
    * its content hash was never seen before. State grows with the number
    * of distinct contents (no horizon).
    */
  def exactStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(DocSchema).parquet(dir)
      .withColumn("text_hash", md5(col("text")))
      .dropDuplicates("text_hash")

  case class BandRow(doc_id: Long, band: Int, bucket: String,
      ingest_ts: java.sql.Timestamp)
  case class BucketState(owner: Long)
  case class BandVerdict(doc_id: Long, ingest_ts: java.sql.Timestamp,
      fresh: Boolean)

  /** Streaming MinHash-LSH NEAR-duplicate dedup within a watermark
    * horizon — the incremental form of `Dedup.minhashLshPairs` +
    * `dropNearDuplicates`: a near-duplicate (not necessarily byte-equal)
    * of any document seen within the horizon is dropped.
    *
    * Source rows must carry an `ingest_ts` timestamp (event time). Two
    * chained stateful stages (flatMapGroupsWithState in Append mode may
    * be followed by a streaming aggregation):
    *
    *  1. Band claim: each document fans out to `bands` (band, bucket)
    *     rows via the native one-pass [[graft.functions.MinHashBucketsExpr]].
    *     Keyed state per (band, bucket) records the first document to
    *     present that bucket; rows of any other document come back
    *     flagged as collisions. State is ONE long per live bucket,
    *     evicted by event-time timeout one horizon after the bucket's
    *     last sighting — memory is bounded by the distinct buckets
    *     inside the horizon, never the corpus.
    *  2. Survivor select: a windowed per-document aggregation keeps a
    *     document iff ALL its bands were fresh (LSH semantics: ≥1 shared
    *     band = near-dup candidate = dropped). The window closes — and
    *     the survivor emits, Append-mode — once the watermark passes it.
    *
    * Same trade as the batch LSH path: collisions are probabilistic
    * (false-positive drops possible at band granularity; raise
    * `numHashes`/`bands` for precision). A near-dup arriving later than
    * the horizon re-enters (and is caught by batch dedup downstream).
    *
    * NOTE: Spark's global-watermark heuristic flags ANY
    * flatMapGroupsWithState followed by a stateful aggregation as a
    * possible correctness issue; the pattern is safe here — stage 1
    * emits each verdict in the same micro-batch as its input row,
    * stamped with that row's own `ingest_ts` (which just passed the
    * upstream watermark filter), so verdicts are never later than the
    * input's allowed lateness. Callers must acknowledge this by setting
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled` to
    * `false` for this query.
    */
  def nearDupStream(
      spark: SparkSession,
      dir: String,
      horizon: String = "1 hour",
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    val schema = StructType(DocSchema.fields :+
      StructField("ingest_ts", TimestampType))
    val bandRows = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ingest_ts", horizon)
      .select(col("doc_id"), col("ingest_ts"),
        posexplode(
          Dedup.wordBands(col("text"), shingleN, numHashes, bands)))
      .select(col("doc_id"), col("pos").as("band"),
        col("col").as("bucket"), col("ingest_ts"))
      .as[BandRow]
    bandOwnership(bandRows, horizon)
  }

  /** The band-ownership state machine both near-dup stream families
    * share, over watermarked `BandRow`s: keyed state per (band, bucket)
    * records the first document to present the bucket (earliest
    * ingest, then smallest id, within a batch) and is evicted one
    * horizon after the bucket's last sighting; a windowed per-document
    * aggregation then emits a document iff ALL its bands were fresh.
    * Output `(window_start, doc_id)`.
    */
  private def bandOwnership(
      bandRows: Dataset[BandRow], horizon: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = bandRows.sparkSession
    import spark.implicits._

    def step(key: (Int, String), rows: Iterator[BandRow],
        state: GroupState[BucketState]): Iterator[BandVerdict] =
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        // deterministic claim order within a batch: earliest ingest, then
        // smallest id, owns the bucket
        val rs = rows.toSeq.sortBy(r => (r.ingest_ts.getTime, r.doc_id))
        val owner = state.getOption.map(_.owner).getOrElse(rs.head.doc_id)
        if (state.getOption.isEmpty) state.update(BucketState(owner))
        state.setTimeoutTimestamp(rs.map(_.ingest_ts.getTime).max, horizon)
        rs.iterator.map(r =>
          BandVerdict(r.doc_id, r.ingest_ts, fresh = r.doc_id == owner))
      }

    bandRows
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(step)
      .toDF()
      .withWatermark("ingest_ts", horizon)
      .groupBy(window(col("ingest_ts"), horizon), col("doc_id"))
      .agg(bool_and(col("fresh")).as("all_bands_fresh"))
      .filter(col("all_bands_fresh"))
      .select(col("window.start").as("window_start"), col("doc_id"))
  }

  /** PERCEPTUAL media twin of [[nearDupStream]]: a payload stream's
    * dHash ([[graft.functions.ImageFunctions.dhash]] — real pixel
    * decode over BMP/PNG/JPEG/GIF) splits into `bands` bit-bands, and
    * the identical bucket-ownership state machine drops every payload
    * sharing any band with a picture seen inside the watermark horizon
    * — ingest-time image dedup across containers, re-encodes, and
    * brightness shifts. Undecodable payloads are NOT emitted — the
    * perceptual stage has no opinion on garbage; route the stream
    * through the byte-level dedup (or a pass-through branch on
    * `dhash IS NULL`) for those BEFORE this stage. State: one long per
    * live (band, bit-pattern) bucket, event-time evicted. Same
    * checkCorrectness.enabled acknowledgment as [[nearDupStream]].
    *
    * `stream` must carry (`idCol` as doc_id, `payload` binary-castable,
    * `ingest_ts`).
    */
  def perceptualDupStream(
      stream: DataFrame,
      horizon: String = "1 hour",
      bands: Int = 4): DataFrame =
    hash64DupStream(stream,
      p => graft.functions.ImageFunctions.dhash(p), horizon, bands)

  /** [[perceptualDupStream]] for AUDIO: the same band-ownership state
    * machine over the 64-bit energy-envelope hash (real WAV / FLAC /
    * MP3 sample decode, [[graft.functions.AudioFunctions
    * .audioEnvelopeHash]]) — ingest-time dedup of one recording
    * across containers, codecs (incl. the multi-table / intensity /
    * mixed-block Layer III shapes), and volume changes.
    */
  def audioDupStream(
      stream: DataFrame,
      horizon: String = "1 hour",
      bands: Int = 4): DataFrame =
    hash64DupStream(stream,
      p => graft.functions.AudioFunctions.audioEnvelopeHash(p), horizon,
      bands)

  /** [[perceptualDupStream]] with VIDEO payloads participating at
    * content level: every payload projects to its canonical visual
    * frame first ([[graft.operators.Multimodal.canonicalFrame]] — the
    * first sync keyframe of an MP4, the payload itself for a bare
    * image), so live-ingested videos dedup against each other and
    * against stills of the same picture. The frame projection is one
    * more map stage on the pre-shuffle side; the state machine is
    * unchanged.
    */
  def videoDupStream(
      stream: DataFrame,
      horizon: String = "1 hour",
      bands: Int = 4): DataFrame =
    hash64DupStream(stream,
      p => graft.functions.ImageFunctions.dhash(
        graft.operators.Multimodal.canonicalFrame(p)), horizon, bands)

  /** The shared 64-bit-fingerprint band-ownership state machine
    * behind the perceptual/audio/video dup streams — the streaming
    * twin of [[graft.operators.Multimodal]]'s `hash64BandPairs`.
    */
  private def hash64DupStream(
      stream: DataFrame,
      hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      horizon: String,
      bands: Int): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    require(bands > 0 && 64 % bands == 0, "bands must divide 64")
    val bw = 64 / bands
    val mask = if (bw == 64) -1L else (1L << bw) - 1

    val marked = stream.withWatermark("ingest_ts", horizon)
      .select(col("doc_id"), col("ingest_ts"),
        hashFn(col("payload").cast(BinaryType)).as("__dh"))
    // Undecodable payloads are dropped by the null-BUCKET filter AFTER
    // the explode, not by an isnotnull(__dh) pre-filter: a filter on
    // the hash column itself is pushed into the decode projection
    // (PushDownPredicate substitutes the CodegenFallback decode into
    // the predicate, and no common-subexpression elimination rescues
    // it), so every payload was media-decoded TWICE per micro-batch —
    // once in the Filter, once in the Project (measured ~2.5 s of the
    // audio gate's 6 s first batch at sf0.1/32). A null __dh explodes
    // to 4 null band_bits (shiftright(null) = null), so filtering the
    // GENERATED bucket attribute — which cannot be pushed below the
    // Generate — drops exactly the same rows with exactly one decode.
    val bandRows = marked
      .select(col("doc_id"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("__dh"), b * bw).bitwiseAND(lit(mask))
            .cast("string")): _*)),
        col("ingest_ts"))
      .filter(col("col").isNotNull)
      .select(col("doc_id"), col("pos").as("band"),
        col("col").as("bucket"), col("ingest_ts"))
      .as[BandRow]
    bandOwnership(bandRows, horizon)
  }

  /** Streaming decontamination — the ingest-time form of
    * `Dedup.decontaminate`: a document sharing any MinHash (band,
    * bucket) with the eval-probe set is dropped as it arrives.
    *
    * The probe's distinct bucket set is computed ONCE, batch-side, and
    * shipped as a literal array (band-prefixed bucket strings). That is
    * the same boundedness argument as the batch operator's broadcast
    * default — the probe is an eval set, orders of magnitude smaller
    * than the corpus — and it buys the strongest possible streaming
    * plan: a STATELESS filter. No state store, no watermark, Append
    * mode, one native bucket pass + one `arrays_overlap` per document.
    * Probe updates (new eval sets) are a stream restart, which is the
    * operational reality of decontamination anyway.
    */
  def decontaminateStream(
      spark: SparkSession,
      dir: String,
      probe: DataFrame,
      textCol: String = "text",
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8): DataFrame =
    spark.readStream.schema(DocSchema).parquet(dir)
      .filter(bandDecontaminateKeep(probe, textCol, col(textCol),
        shingleN, numHashes, bands))

  /** Stateless MinHash-band decontamination PREDICATE against a batch
    * probe: the probe's distinct (band, bucket) keys collapse to a
    * sorted literal (bounded by the probe's bucket count — eval-set
    * scale, the same boundedness argument as [[decontaminateStream]],
    * which this factors out of), and a row keeps iff none of its own
    * band keys overlap. Pure per-row column — composable into any
    * stream or batch filter chain ([[graft.operators.Pipeline
    * .curateStream]]).
    */
  def bandDecontaminateKeep(
      probe: DataFrame,
      probeTextCol: String,
      textCol: org.apache.spark.sql.Column,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8): org.apache.spark.sql.Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def bandKeys(c: org.apache.spark.sql.Column) =
      transform(Dedup.wordBands(c, shingleN, numHashes, bands),
        (b, i) => concat(i.cast("string"), lit(":"), b))
    // sorted so the literal — and with it the plan — is deterministic
    val probeKeys = probe
      .select(explode(bandKeys(col(probeTextCol))).as("k"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    !arrays_overlap(bandKeys(textCol), typedLit(probeKeys))
  }

  /** PERSISTENT-INDEX streaming dedup: each micro-batch is deduplicated
    * against (and absorbed into) the [[graft.sources.DedupIndex]]
    * artifact via the idempotent [[graft.sources.DedupIndex
    * .ingestBatch]] protocol, and survivors land under
    * `outPath/batch_id=N`. The state-store forms above trade
    * durability for latency (state dies with the checkpoint, horizon
    * bounds memory); THIS form keeps dedup state in a restartable,
    * inspectable, batch-rebuildable artifact the backfill pipeline
    * shares — the same index dedups the historical corpus and the live
    * stream. The telescoping property says the surviving set equals a
    * BATCH pipeline run whose batches are exactly the stream's
    * micro-batches: arrival order IS the priority order, so a
    * duplicate pair split ACROSS micro-batches keeps the
    * earlier-arriving doc (within one micro-batch, the batch rule —
    * smallest id — applies). That is the defining contract of any
    * incremental dedup, not an approximation of the global min-id run;
    * the two coincide whenever ids are assigned in arrival order.
    *
    * Returns the configured `DataStreamWriter`; the caller picks
    * trigger/checkpoint (`.trigger(AvailableNow()).start()` for
    * catch-up runs). ALWAYS set a durable `checkpointLocation`: batch
    * ids — which key the ingest markers — are unique only within one
    * checkpoint lineage, so a fresh temp checkpoint against a used
    * index would collide with absorbed batches' markers and silently
    * skip them. Exactly-once: foreachBatch replays are absorbed by
    * `ingestBatch`'s absorb-marker / output-sentinel protocol (its own
    * `out_<id>` sentinel, never the committer's `_SUCCESS`) — see its
    * scaladoc.
    */
  def indexedDedupStream(
      stream: DataFrame,
      indexPath: String,
      outPath: String,
      idCol: String,
      textCol: String,
      numFiles: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    indexedStream(stream)(graft.sources.DedupIndex.ingestBatch(_,
      indexPath, outPath, _, _, idCol, textCol, numFiles))

  /** The foreachBatch writer of the absorbing index streams: each
    * micro-batch goes to `ingest(session, batch, batchId)`.
    */
  private def indexedStream(stream: DataFrame)(
      ingest: (SparkSession, DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        ingest(batch.sparkSession, batch.toDF(), batchId)
    }

  /** [[indexedDedupStream]]'s SUBSTRING sibling: each micro-batch is
    * substring-dedup-rewritten against the frozen gram index
    * ([[graft.sources.DedupIndex.ingestSubstringBatch]] — quoted
    * corpus-wide duplicate spans removed at ingest, first occurrences
    * kept by arrival order) and its new gram hashes are absorbed; the
    * rewritten output telescopes exactly to a batch run whose batches
    * are the stream's micro-batches (arrival order = priority order —
    * see [[indexedDedupStream]]'s contract note). Same contracts as
    * the exact/near-dup form: durable `checkpointLocation` required
    * (markers key on batch id), at-least-once replays converge via the
    * absorb-marker / output-sentinel protocol (never `_SUCCESS`).
    */
  def indexedSubstringStream(
      stream: DataFrame,
      indexPath: String,
      outPath: String,
      idCol: String,
      textCol: String,
      numFiles: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    indexedStream(stream)(graft.sources.DedupIndex.ingestSubstringBatch(_,
      indexPath, outPath, _, _, idCol, textCol, numFiles))

  /** [[indexedDedupStream]]'s SEMANTIC sibling: each micro-batch of
    * embeddings is SemDeDup'd against the frozen semantic index
    * ([[graft.sources.DedupIndex.ingestSemanticBatch]] — a batch vector
    * is dropped iff any already-indexed or lower-id batch-mate in the
    * same frozen cell sits within the cosine threshold) and the whole
    * batch is absorbed, so the emitted survivor set telescopes exactly
    * to a batch run whose batches are the stream's micro-batches. Same
    * contracts as the other families: durable `checkpointLocation`
    * required, at-least-once replays converge via the sentinel/marker
    * protocol (a post-absorb replay would otherwise emit an empty
    * survivor frame — every vector shadows its own absorbed copy).
    */
  def indexedSemanticStream(
      stream: DataFrame,
      indexPath: String,
      outPath: String,
      idCol: String,
      vecCol: String,
      numFiles: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    indexedStream(stream)(graft.sources.DedupIndex.ingestSemanticBatch(_,
      indexPath, outPath, _, _, idCol, vecCol, numFiles))

  /** Decontaminate a document stream against a FROZEN
    * [[graft.sources.DeconIndex]] — the held-out-corpus scale form of
    * [[decontaminateStream]] (which ships the probe as a plan literal
    * and so only fits eval-set-sized probes): each micro-batch runs
    * [[graft.sources.DeconIndex.decontaminateBatch]] — broadcast Bloom
    * prefilter at scan time, exact confirm against the streamed gram
    * artifact — and its survivors land at `outPath/batch_id=N`.
    *
    * NO marker protocol, deliberately: the index is read-only here, so
    * a replayed batch recomputes the IDENTICAL survivor frame and the
    * per-batch `overwrite` converges byte-for-byte — idempotence by
    * determinism, where the absorbing index streams need sentinels
    * precisely because their replays do NOT recompute the same answer.
    * (Consequence: do not interleave this stream with [[appendProbe]]
    * calls on the same index mid-replay — a batch replayed under a
    * GROWN index may drop more docs than its first delivery. Freeze
    * the index per stream run, the deployment the artifact exists
    * for.)
    */
  def indexedDeconStream(
      stream: DataFrame,
      indexPath: String,
      outPath: String,
      idCol: String,
      textCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        graft.sources.DeconIndex.decontaminateBatch(batch.toDF(),
            idCol, textCol, indexPath)
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
    }

  /** Absorb a PROBE stream into a [[graft.sources.DeconIndex]] — eval
    * suites or held-out-corpus slices arriving over time, each batch
    * folded in by [[graft.sources.DeconIndex.appendProbe]]. Marker-free
    * under at-least-once replay: the append is convergent by
    * construction (fresh-key anti-join + idempotent filter OR + the
    * committed filter gating visibility — see the DeconIndex object
    * doc), the same law that lets the HLL register store ingest
    * without a cursor. One streaming writer per index path.
    */
  def probeIngestStream(
      stream: DataFrame,
      textCol: String,
      indexPath: String,
      n: Int = 13,
      mBits: Int = 1 << 20,
      k: Int = 4)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        graft.sources.DeconIndex.appendProbe(batch.toDF(), textCol,
          indexPath, n, mBits, k)
    }

  /** Stateless EXACT n-gram decontamination predicate (the GPT-3/Pile
    * recipe [[graft.operators.Dedup.decontaminateExact]] as a pure
    * column): the probe's distinct word-n-gram hashes collapse to a
    * sorted hex literal, and a row keeps iff it shares none. Documents
    * with fewer than `n` words have no grams and always keep — the
    * batch form's explode drops them the same way.
    */
  def exactGramDecontaminateKeep(
      probe: DataFrame,
      probeTextCol: String,
      textCol: org.apache.spark.sql.Column,
      n: Int = 13): org.apache.spark.sql.Column = {
    import graft.functions.TextFunctions.wordGramHash128
    require(n >= 2, "n must be >= 2")
    def gramHex(c: org.apache.spark.sql.Column) =
      transform(wordGramHash128(
        filter(split(trim(lower(c)), "\\s+"), w => length(w) > 0), n),
        h => lower(hex(h)))
    val probeGrams = probe
      .select(explode(gramHex(col(probeTextCol))).as("h"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    !arrays_overlap(gramHex(textCol), typedLit(probeGrams))
  }
}
