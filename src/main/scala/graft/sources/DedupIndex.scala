package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType,
  StructField, StructType}

import graft.functions.TextFunctions.wordGramHash128
import graft.operators.Dedup

/** Persisted incremental dedup index — the crawl-pipeline shape where a
  * daily batch must be deduplicated against a 100 TB corpus WITHOUT
  * rescanning (re-hashing, re-shingling) the corpus. The reference has
  * no dedup surface at all; this is the persistence twin of
  * [[graft.operators.Dedup]]'s in-session operators, in the [[AnnIndex]]
  * artifact pattern (small self-describing parquet artifacts under one
  * base path, meta as the load gate).
  *
  * Artifacts under `path`:
  *
  *  - `hashes/`: `(text_hash, keep_id)` — one row per distinct
  *    exact-normalized content hash ([[Dedup.normalizedHash]]) with its
  *    first-occurrence owner. ~16 bytes/distinct-doc: the corpus's
  *    entire exact-dedup state, ~1/1000th the size of the text it
  *    replaces.
  *  - `buckets/`: `(doc_id, band, bucket)` — MinHash band-bucket
  *    ownership rows ([[Dedup.wordBandBucketRows]]) of the corpus's
  *    EXACT-SURVIVOR docs. `bands` rows per survivor.
  *  - `meta`: `(shingle_n, num_hashes, bands)` — the banding parameters
  *    — and the two artifacts' schemas ([[Commit.schemaEntry]]);
  *    written LAST (tombstoned first on rebuild, the [[Packs]]
  *    discipline) so a mid-build crash leaves an unloadable directory,
  *    and a loader can never probe an index with mismatched banding.
  *
  * Semantics (= the batch pipeline's stage order, exact first then
  * near-dup, and its keep-FIRST rule, with "first" meaning ARRIVAL
  * order: everything already in the index outranks the incoming batch,
  * and within a batch lower id wins):
  *
  *  1. exact stage — a batch doc is a duplicate if its normalized hash
  *     is already in `hashes/`, or a lower-id batch doc shares it;
  *  2. near-dup stage — a batch doc that survived (1) is a duplicate if
  *     it shares any (band, bucket) with an indexed exact-survivor or
  *     with a lower-id exact-surviving batch doc.
  *
  * [[append]] under these rules telescopes EXACTLY to the from-scratch
  * run: for any split of a corpus into build + batch₁ + … + batchₙ
  * (arrival-ordered), the surviving set equals one dedup pass over the
  * whole corpus with the same priority order — the `dedup_index_append`
  * gate proves the two-step case against a DuckDB replay of the union
  * run, and the telescoping spec proves three steps. Two invariants
  * make that hold, both deliberately wider than "survivors only":
  *
  *  - `hashes/` keeps every distinct hash ever seen (including hashes
  *    whose owner the near-dup stage later dropped) — a future doc
  *    equal to a dropped doc must still be dropped by stage 1;
  *  - `buckets/` keeps ALL exact-survivors' bands (including docs
  *    stage 2 dropped) — in the from-scratch run those docs are present
  *    in the band table too, and a future near-dup of a dropped doc
  *    must still be dropped.
  *
  * Scale shape of [[append]] (the whole point): the batch's keys — id,
  * normalized hash, band signature — are collected to the driver, and
  * the corpus-sized artifacts are only ever SCANNED, filtered by those
  * keys as a pushed-down `In` filter; the keep-first rules then run on
  * the driver over batch-sized sets. No corpus shuffle, no corpus sort,
  * no join, and the raw corpus text is never touched. The driver holds
  * what the broadcast sides of a join formulation would hold: a batch
  * too large for that is one to rebuild with.
  */
object DedupIndex {

  /** A loaded index: artifact frames plus the banding parameters. */
  final case class Loaded(
      hashes: DataFrame,
      buckets: DataFrame,
      shingleN: Int,
      numHashes: Int,
      bands: Int)

  /** Build (or atomically rebuild) the index from a corpus. One
    * hash-keyed shuffle for the exact stage (partial-aggregable
    * `min`), one join back for survivor texts, one linear band pass —
    * the same work a single from-scratch dedup run does anyway; every
    * later [[append]] is what the artifact saves.
    */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      numFiles: Int = 32): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(numFiles > 0, "numFiles must be positive")
    val spark = docs.sparkSession
    // tombstone first (the Packs discipline): a crash anywhere below
    // leaves no meta, so load() fails loudly instead of pairing stale
    // banding params with half-rebuilt artifacts. The ingest MARKERS
    // die with the meta: they record absorption into the OLD index, and
    // surviving a rebuild they would make a fresh stream's batch 0..N
    // silently no-op against the new one (ids restart with a fresh
    // checkpoint).
    Commit.tombstone(spark, s"$path/meta", s"$path/ingested")
    Commit.unmarkClean(spark, path, "exact")
    val hashed = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("__text"),
      Dedup.normalizedHash(col(textCol)).as("text_hash"))
    val hashes = hashed.groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"))
    hashes.repartition(numFiles, col("text_hash"))
      .sortWithinPartitions("text_hash")
      .write.mode("overwrite").parquet(s"$path/hashes")
    // exact survivors carry their text into the band pass; reading the
    // just-written hashes/ back avoids recomputing the aggregate and
    // keeps this stage's lineage off the raw-docs double-scan path
    val hashSchema = Commit.schemaEntry("hashes", hashes)
    val keeps = Commit.open(spark, Map(hashSchema), "hashes",
      s"$path/hashes")
    val survivors = hashed.join(keeps, Seq("text_hash"))
      .filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("__text"))
    val bandRows = Dedup.wordBandBucketRows(survivors, "doc_id", "__text",
      shingleN, numHashes, bands)
    bandRows.repartition(numFiles, col("band"), col("bucket"))
      .sortWithinPartitions("band", "bucket")
      .write.mode("overwrite").parquet(s"$path/buckets")
    Commit.writeMeta(spark, s"$path/meta", Map("shingle_n" -> shingleN,
      "num_hashes" -> numHashes, "bands" -> bands, hashSchema,
      Commit.schemaEntry("buckets", bandRows)))
    // fresh build = folded rows at the build layout by construction
    Commit.markClean(spark, path, "exact")
  }

  def load(spark: SparkSession, path: String): Loaded = {
    val meta = Commit.readMeta(spark, s"$path/meta")
    Loaded(
      hashes = Commit.open(spark, meta, "hashes", s"$path/hashes"),
      buckets = Commit.open(spark, meta, "buckets", s"$path/buckets"),
      shingleN = meta("shingle_n").toInt,
      numHashes = meta("num_hashes").toInt,
      bands = meta("bands").toInt)
  }

  /** Dedup an incoming batch against the frozen index and absorb the
    * batch's state: returns the batch rows (original schema) that
    * survive both stages, and appends the batch's new hash rows and
    * exact-survivor band rows so the NEXT append sees this batch as
    * part of the corpus.
    *
    * Every returned/appended frame is fixed BEFORE any append file
    * lands: the survivors are the batch filtered by keys the driver
    * holds, and the appended state is built on the driver, so nothing
    * recomputed after the directories grew can re-read them (the
    * [[AnnIndex.append]] read-write-overlap lesson). Append atomicity is
    * parquet-append atomicity; replaying a crashed append is safe for
    * correctness (duplicate hash/bucket rows only re-confirm membership
    * — both stages test membership) at the cost of dead rows until a
    * compaction.
    */
  def append(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      numFiles: Int = 8): DataFrame = {
    val b = dedupBatch(spark, path, newDocs, idCol, textCol)
    absorb(spark, path, b, numFiles)
    b.survivors
  }

  /** The result of deduping one batch against the frozen index:
    * `survivors` = the batch rows (original schema) that pass both
    * stages, the batch filtered by the surviving `(id, hash)` pairs —
    * no index scan in its lineage; `newHashes` / `newBuckets` = the
    * state [[absorb]] appends, built on the driver and sorted by key.
    * Computing this is PURE — the index directories are only read — so
    * it can be recomputed idempotently until [[absorb]] runs (the
    * property [[ingestBatch]]'s crash-replay protocol rests on).
    */
  final case class BatchDedup(
      survivors: DataFrame,
      newHashes: DataFrame,
      newBuckets: DataFrame)

  /** One batch row's keys; `rank` orders ids as Spark does, equal ids
    * sharing a rank.
    */
  private final case class BatchKey(
      id: Any, rank: Int, hash: String, bands: Seq[String])

  /** Stage-1/stage-2 dedup of a batch against the frozen index — the
    * probe half of [[append]], with no writes. At most two Spark jobs:
    * one collect of the batch keys, one collect of the index rows that
    * match them; the keep-first rules run on the driver.
    */
  def dedupBatch(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String): BatchDedup = {
    val idx = load(spark, path)
    val idType = newDocs.select(col(idCol)).schema.head.dataType
    // a row with a null id or text never survives (a null hash matches
    // nothing, a null id equals no first id) and drops no other row, so
    // it never reaches the driver
    val collected = newDocs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol), Dedup.normalizedHash(col(textCol)),
        Dedup.wordBands(col(textCol), idx.shingleN, idx.numHashes,
          idx.bands))
      .collect()
    // dense id ranks under Spark's own ordering of the id type, so
    // "lower id" and "equal ids" mean here what they mean in SQL
    val ord = InterpretedOrdering.forSchema(Seq(idType))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val byId = collected.map(r => (InternalRow(toCatalyst(r.get(0))), r))
      .sortWith((a, b) => ord.lt(a._1, b._1))
    val ranks = byId.indices.scanLeft(-1) { (rank, i) =>
      if (i > 0 && ord.equiv(byId(i - 1)._1, byId(i)._1)) rank else rank + 1
    }.tail
    val keys = ranks.zip(byId).map { case (rank, (_, r)) =>
      BatchKey(r.get(0), rank, r.getString(1), r.getSeq[String](2))
    }
    // the index rows that share a key with the batch: both directories
    // scanned under a pushed-down In filter, one job
    val found = idx.hashes
      .filter(col("text_hash").isin(keys.map(_.hash).distinct: _*))
      .select(col("text_hash"), lit(null).cast(IntegerType).as("band"),
        lit(null).cast(StringType).as("bucket"))
      .union(idx.buckets
        .filter(col("bucket").isin(keys.flatMap(_.bands).distinct: _*))
        .select(lit(null).cast(StringType).as("text_hash"), col("band"),
          col("bucket")))
      .collect()
    val indexedHashes = found.filter(!_.isNullAt(0)).map(_.getString(0)).toSet
    val indexedBuckets = found.filter(_.isNullAt(0))
      .map(r => (r.getInt(1), r.getString(2))).toSet
    // STAGE 1 (exact): the lowest id of each hash survives, with every
    // row sharing that id, unless the index already owns the hash
    val firstOfHash = keys.groupMapReduce(_.hash)(_.rank)(math.min)
    val exact = keys.filter(k =>
      k.rank == firstOfHash(k.hash) && !indexedHashes(k.hash))
    // STAGE 2 (near-dup): an exact survivor drops when one of its
    // (band, bucket) keys is indexed, or held by a lower id in the batch
    val bandRows = for {
      k <- exact
      (bucket, band) <- k.bands.zipWithIndex
    } yield ((band, bucket), k)
    val firstOfBucket = bandRows.groupMapReduce(_._1)(_._2.rank)(math.min)
    val dropped = bandRows.collect {
      case (key, k) if indexedBuckets(key) || k.rank > firstOfBucket(key) =>
        k.rank
    }.toSet
    val kept = exact.filterNot(k => dropped(k.rank))
      .distinctBy(k => (k.rank, k.hash))
    // the absorb state: every fresh hash (owner = the exact survivor,
    // near-dropped or not) and every exact-survivor's band rows — the
    // two wider-than-survivors invariants the telescoping proof needs
    def local(rows: Seq[Row], fields: (String, DataType)*): DataFrame =
      spark.createDataFrame(rows.asJava,
        StructType(fields.map { case (n, t) => StructField(n, t) }))
    BatchDedup(
      survivors = newDocs.filter(
        struct(col(idCol).as("i"), Dedup.normalizedHash(col(textCol)).as("h"))
          .isin(kept.map(k => struct(lit(k.id).cast(idType).as("i"),
            lit(k.hash).as("h"))): _*)),
      newHashes = local(exact.sortBy(_.hash).map(k => Row(k.hash, k.id)),
        "text_hash" -> StringType, "keep_id" -> idType),
      newBuckets = local(
        bandRows.sortBy(_._1).map { case ((band, bucket), k) =>
          Row(k.id, band, bucket) },
        "doc_id" -> idType, "band" -> IntegerType, "bucket" -> StringType))
  }

  /** Append a [[dedupBatch]] result's state to the index. Its frames
    * are driver-built and sorted by key, so each write runs without a
    * shuffle and every file holds one key range. BUCKETS are
    * written BEFORE hashes deliberately: a batch doc is recognized as
    * "already absorbed" by its HASH, so writing the hash last means a
    * crash-replay of a partially-absorbed batch recomputes
    * [[dedupBatch]] and re-appends exactly the missing state — a doc
    * whose hash landed necessarily has its band rows landed too, and a
    * doc whose hash did not land is recomputed as a fresh exact
    * survivor (its duplicated band rows are benign: the near-dup stage
    * tests membership). The reverse order would let a crash leave a
    * hash-absorbed survivor with no band rows — an invariant hole no
    * replay could see.
    */
  def absorb(
      spark: SparkSession,
      path: String,
      b: BatchDedup,
      numFiles: Int = 8): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    // sentinel first: a crash after this delete but before a file lands
    // only forfeits the next compact's skip — never the reverse hole
    Commit.unmarkClean(spark, path, "exact")
    b.newBuckets.coalesce(numFiles)
      .write.mode("append").parquet(s"$path/buckets")
    b.newHashes.coalesce(numFiles)
      .write.mode("append").parquet(s"$path/hashes")
  }

  /** Idempotent one-batch ingest — the unit [[graft.streaming
    * .StreamingDedup.indexedDedupStream]] runs per micro-batch, safe
    * under foreachBatch's at-least-once replay:
    *
    *  1. if the batch's absorb MARKER exists, the batch is fully
    *     ingested — no-op;
    *  2. else if the batch's OUTPUT SENTINEL (ours, next to the
    *     markers — committer `_SUCCESS` is not trusted: it can be
    *     disabled, and a post-absorb replay computes an empty survivor
    *     set that must never clobber the committed output) is absent,
    *     compute [[dedupBatch]] (pure — the index cannot contain this
    *     batch yet, because the marker is written only after absorb),
    *     OVERWRITE `outPath/batch_id=N`, and write the sentinel;
    *  3. [[absorb]] (buckets-then-hashes replay ordering), then write
    *     the marker.
    *
    * Crash anywhere → the replay re-enters at the right step and
    * converges to the same output and the same index state (modulo
    * benign duplicate state rows, which membership semantics ignore).
    * This is how a dedup stream keeps its state in a RESTARTABLE,
    * rebuildable artifact instead of an opaque state store.
    */
  def ingestBatch(
      spark: SparkSession,
      indexPath: String,
      outPath: String,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      numFiles: Int = 8): Unit =
    ingestOnce(spark, s"$indexPath/ingested", outPath, batchId)(
      dedupBatch(spark, indexPath, batch, idCol, textCol))(
      _.survivors, absorb(spark, indexPath, _, numFiles))

  /** The one-batch ingest protocol of every family: the absorb marker
    * `markers/batch_N` guards the whole call; inside it the pure
    * `probe` runs, the output sentinel `markers/out_N` guards the
    * OVERWRITE of `outPath/batch_id=N`, then `absorbB` runs.
    *
    * The output-committed signal is OUR OWN sentinel next to the
    * absorb marker, never the committer's `_SUCCESS`: `_SUCCESS` can be
    * disabled (marksuccessfuljobs=false on object stores) or the
    * output relocated, and a replay AFTER absorb recomputes a degraded
    * output (the batch now matches its own absorbed state: an EMPTY
    * survivor set, an over-scrubbed rewrite) — trusting a missing
    * `_SUCCESS` there would overwrite good output with it and then
    * mark the batch done.
    */
  private def ingestOnce[B](
      spark: SparkSession, markers: String, outPath: String, batchId: Long)(
      probe: => B)(output: B => DataFrame, absorbB: B => Unit): Unit =
    Commit.once(spark, s"$markers/batch_$batchId") {
      val b = probe
      Commit.once(spark, s"$markers/out_$batchId") {
        output(b).write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      }
      absorbB(b)
    }

  // ---------------------------------------------------------------------
  // Substring gram index — the incremental form of exact substring dedup
  // (Lee et al. 2022), the third dedup family this artifact pattern
  // covers. Separate artifact pair (`grams/` + `grams_meta`) with its
  // own lifecycle: a corpus can maintain exact/near-dup state without
  // paying the gram index's token-scale footprint, and vice versa.
  // ---------------------------------------------------------------------

  private def words(c: org.apache.spark.sql.Column) =
    filter(split(c, "\\s+"), w => length(w) > 0)

  /** Build the substring gram index AND return the build corpus's
    * substring-dedup rewrite ([[graft.operators.Dedup.dedupSubstrings]]
    * semantics — same output schema) in the same pass: the positional
    * gram table is the expensive intermediate, and build stores its
    * DISTINCT hashes as `grams/` while the first-occurrence core
    * consumes it for the rewrite.
    *
    * The stored set is ALL gram hashes of the ORIGINAL build text —
    * including grams whose occurrences the rewrite removed — the same
    * wider-than-survivors invariant as `hashes/`/`buckets/`: in the
    * from-scratch run over corpus + batch, a batch occurrence of any
    * corpus gram is never the corpus-wide first, so [[appendSubstring]]
    * must drop it even when the corpus's own copy was removed.
    */
  def buildSubstring(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      spanWords: Int = 20,
      numFiles: Int = 32): DataFrame = {
    require(spanWords >= 2, "spanWords must be >= 2")
    require(numFiles > 0, "numFiles must be positive")
    val spark = docs.sparkSession
    val k = spanWords
    // meta tombstone + stale ingest markers (see [[build]]'s note)
    Commit.tombstone(spark, s"$path/grams_meta", s"$path/grams_ingested")
    Commit.unmarkClean(spark, path, "substring")
    // NO Spread before this tokenize: measured a REGRESSION twice (r19
    // commit 8cc72a9 context, and re-measured r20: dedup_index_substring
    // 2.92 → 3.82 s, compact_substring 2.59 → 3.74 s, 7-rep stash A/B
    // at sf0.1/32) — the full-text exchange costs more than the
    // single-split gram hashing saves at these batch sizes, unlike the
    // corpus-wide dedup_substring operator where the spread won
    val toks = Dedup.materialize(docs.select(col(idCol),
      words(col(textCol)).as("__ws")))
    val grams = Dedup.materialize(
      toks.filter(size(col("__ws")) >= k)
        .select(col(idCol),
          posexplode(wordGramHash128(col("__ws"), k))
            .as(Seq("__gpos", "__h"))))
    val hashes = grams.select(col("__h").as("gram_hash")).distinct()
    hashes.repartition(numFiles, col("gram_hash"))
      .sortWithinPartitions("gram_hash")
      .write.mode("overwrite").parquet(s"$path/grams")
    Commit.writeMeta(spark, s"$path/grams_meta", Map("span_words" -> k,
      Commit.schemaEntry("grams", hashes)))
    // fresh build = distinct hashes at the build layout by construction
    Commit.markClean(spark, path, "substring")
    // grams is already checkpointed above (it also feeds the grams/
    // write): the Materialized form must not checkpoint it a second
    // time
    val starts = Dedup.removedGramStartsMaterialized(grams, idCol)
    Dedup.applyWordRemoval(toks, starts, idCol, k)
  }

  /** Substring-dedup an incoming batch against the frozen gram index
    * and absorb its new grams: a batch gram occurrence is removed iff
    * its hash is ALREADY INDEXED (the index holds an earlier
    * occurrence by arrival order) or an earlier batch occurrence
    * exists (the within-batch first-occurrence rule); covered spans
    * merge positionally and the text is rebuilt exactly as in the
    * batch operator. Returns the rewritten batch
    * (`id, text_kept, n_words_kept, n_words_dropped`) and appends the
    * batch's distinct NEW gram hashes, so appends telescope to the
    * from-scratch run under arrival-order priority (build corpus
    * first, then batches in append order) — the `dedup_index_substring`
    * gate pins the two-step case against a from-scratch oracle replay,
    * the telescoping spec the three-step case.
    *
    * Scale shape: the batch's distinct gram hashes BROADCAST into a
    * semi join that STREAMS the corpus-scale `grams/` artifact —
    * a columnar scan of 16-byte keys with no corpus shuffle;
    * everything else (internal
    * first-occurrence aggregate, starts union, rewrite join) is
    * batch-sized. Matched hashes, starts, and the appended new-hash
    * set are all materialized BEFORE any append file lands, so no
    * consumer's lineage can rescan a directory it is growing (the
    * [[AnnIndex.append]] read-write-overlap discipline).
    */
  def appendSubstring(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      numFiles: Int = 8): DataFrame = {
    val b = dedupSubstringBatch(spark, path, newDocs, idCol, textCol)
    absorbSubstring(spark, path, b, numFiles)
    b.rewritten
  }

  /** One batch's substring-dedup against the frozen gram index, every
    * frame MATERIALIZED: `rewritten` = the batch's rewrite (the
    * [[appendSubstring]] output), `newHashes` = the distinct
    * not-yet-indexed gram hashes [[absorbSubstring]] appends. Pure —
    * `grams/` is only read — so recomputable idempotently until the
    * absorb runs (the [[ingestSubstringBatch]] replay protocol; and
    * after a PARTIAL absorb, recomputation still yields exactly the
    * missing hashes, because a hash's presence in `grams/` is the very
    * signal that excludes it from `newHashes`).
    */
  final case class SubstringBatch(
      rewritten: DataFrame,
      newHashes: DataFrame)

  /** The probe half of [[appendSubstring]] — no writes. */
  def dedupSubstringBatch(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String): SubstringBatch = {
    val meta = Commit.readMeta(spark, s"$path/grams_meta")
    val k = meta("span_words").toInt
    val idx = Commit.open(spark, meta, "grams", s"$path/grams")
    // NO Spread on the batch tokenize — same re-measured regression as
    // [[buildSubstring]]'s note (streaming_substring_index 4.35 → 4.63 s
    // in the same 7-rep A/B)
    val toks = Dedup.materialize(newDocs.select(col(idCol),
      words(col(textCol)).as("__ws")))
    val bg = Dedup.materialize(
      toks.filter(size(col("__ws")) >= k)
        .select(col(idCol),
          posexplode(wordGramHash128(col("__ws"), k))
            .as(Seq("__gpos", "__h"))))
    val batchHashes = bg.select(col("__h")).distinct()
    // index ∩ batch: batch-bounded output, corpus side streamed
    val hits = idx
      .join(broadcast(batchHashes.select(col("__h").as("gram_hash"))),
        Seq("gram_hash"), "left_semi")
      .select(col("gram_hash").as("__h"))
      .localCheckpoint()
    val idxStarts = bg.join(broadcast(hits), Seq("__h"), "left_semi")
      .select(col(idCol), col("__gpos"))
    val dup = bg.groupBy(col("__h"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col(idCol).as("__fid"), col("__gpos").as("__fpos")))
          .as("__f"))
      .filter(col("__c") >= 2)
      .select(col("__h"), col("__f"))
    val internalStarts = bg.join(dup, Seq("__h"))
      .filter(!(col("__f").getField("__fid") === col(idCol) &&
        col("__f").getField("__fpos") === col("__gpos")))
      .select(col(idCol), col("__gpos"))
    // union pins BOTH sources before aggregation; distinct because an
    // occurrence can be removed for both reasons at once
    val starts = idxStarts.union(internalStarts).distinct()
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__gpos"))).as("__starts"))
      .localCheckpoint()
    // newHashes projects off materialized frames (bg + hits), so the
    // absorb append cannot rescan grams/ mid-growth
    SubstringBatch(
      rewritten = Dedup.applyWordRemoval(toks, starts, idCol, k),
      newHashes = batchHashes
        .join(broadcast(hits), Seq("__h"), "left_anti")
        .select(col("__h").as("gram_hash")))
  }

  /** Append a [[dedupSubstringBatch]] result's new gram hashes. One
    * artifact, so replay is trivially convergent: a partially-landed
    * append leaves hashes whose presence excludes them from the next
    * recomputation's `newHashes` (see [[SubstringBatch]]).
    */
  def absorbSubstring(
      spark: SparkSession,
      path: String,
      b: SubstringBatch,
      numFiles: Int = 8): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    Commit.unmarkClean(spark, path, "substring")
    b.newHashes.repartition(numFiles, col("gram_hash"))
      .sortWithinPartitions("gram_hash")
      .write.mode("append").parquet(s"$path/grams")
  }

  // ---------------------------------------------------------------------
  // Semantic (embedding) index — the incremental form of SemDeDup
  // (Abbas et al. 2023), the fourth dedup family under this artifact
  // pattern: a new crawl batch's embeddings are deduplicated against the
  // frozen corpus WITHOUT re-scoring the corpus. Artifact pair:
  //
  //   sem_vecs/       (vec_id, centroid_id, vec, kept) — EVERY vector
  //                   ever seen, assigned to its frozen cell, clustered
  //                   by centroid_id so a probe streams cell-local data
  //   sem_centroids/  (centroid_id, cvec) — the frozen cell centers;
  //                   appends assign against these, never re-cluster
  //   sem_meta        (tau) — written LAST, tombstoned first on rebuild
  //
  // The drop rule is [[graft.operators.Dedup.semanticDedup]]'s, extended
  // by arrival order: a vector is dropped iff some PRECEDING vector
  // (anything already indexed, or a lower-id batch-mate) in the SAME
  // cell has round(cosine, 6) >= tau. "Preceding" deliberately includes
  // vectors that were themselves dropped — the batch operator's
  // smaller-id rule compares against all cell-mates, not survivors — and
  // that is what makes `sem_vecs/` keep every vector (the
  // wider-than-survivors invariant of this family): with it, the drop
  // decision is a pure OR over earlier vectors, so appends telescope
  // EXACTLY to the from-scratch run under arrival-order priority (the
  // `dedup_index_semantic` gate pins the two-step case against a DuckDB
  // replay; the telescoping spec the three-step case).
  // ---------------------------------------------------------------------

  import graft.functions.VectorFunctions.cosineFast

  /** Build (or atomically rebuild) the semantic index: assign every
    * corpus vector to its nearest frozen centroid (one broadcast pass),
    * run the within-cell smaller-id drop rule, store all vectors with
    * their cell and keep flag. Returns the survivors `(idCol,
    * centroid_id)` — [[graft.operators.Dedup.semanticDedup]]'s output —
    * so the build pass doubles as the corpus's own dedup run.
    */
  def buildSemantic(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      tau: Double,
      path: String,
      numFiles: Int = 32): DataFrame = {
    require(numFiles > 0, "numFiles must be positive")
    val spark = vecs.sparkSession
    // meta tombstone + stale ingest markers (see [[build]]'s note)
    Commit.tombstone(spark, s"$path/sem_meta", s"$path/sem_ingested")
    Commit.unmarkClean(spark, path, "semantic")
    // one materialization: the assignment feeds the pair join twice,
    // the keep-flag join, and the artifact write
    val assigned = graft.operators.Similarity
      .ivfAssign(vecs, idCol, vecCol, centroids)
      .select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
        col("centroid_id"))
      .localCheckpoint()
    val a = assigned.as("a"); val b = assigned.as("b")
    val dropped = a.join(b,
        col("a.centroid_id") === col("b.centroid_id") &&
        col("a.vec_id") > col("b.vec_id") &&
        cosineFast(col("a.vec"), col("b.vec")) >= lit(tau))
      .select(col("a.vec_id")).distinct().localCheckpoint()
    val all = assigned.join(
        dropped.select(col("vec_id"), lit(false).as("kept")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"), col("vec"),
        coalesce(col("kept"), lit(true)).as("kept"))
    // independent artifacts (vecs derive from the checkpoints, the
    // centroid table from the caller's frame) — overlap the two write
    // jobs (guide §2.6); meta still lands last
    val cells = centroids.select(col("centroid_id"), col("__cv").as("cvec"))
    Commit.runAll(Seq(
      () => all.repartition(numFiles, col("centroid_id"))
        .sortWithinPartitions("centroid_id", "vec_id")
        .write.mode("overwrite").parquet(s"$path/sem_vecs"),
      () => cells.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/sem_centroids")))
    Commit.writeMeta(spark, s"$path/sem_meta", Map("tau" -> tau,
      Commit.schemaEntry("sem_vecs", all),
      Commit.schemaEntry("sem_centroids", cells)))
    // fresh build = folded vec_ids at the cell-clustered layout
    Commit.markClean(spark, path, "semantic")
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id").as(idCol), col("centroid_id"))
  }

  /** One batch's semantic dedup against the frozen index, every frame
    * MATERIALIZED: `survivors` = `(idCol, centroid_id)` of the batch
    * vectors no preceding vector shadows; `newVecs` = the rows
    * [[absorbSemantic]] appends (all batch vectors, kept or not — the
    * wider-than-survivors invariant). Pure — the index is only read —
    * so recomputable idempotently until the absorb runs.
    */
  final case class SemanticBatch(
      survivors: DataFrame,
      newVecs: DataFrame)

  /** The probe half of [[appendSemantic]] — no writes.
    *
    * Scale shape: the batch ASSIGNS against the frozen centroids
    * (broadcast, one linear pass over the batch), then the corpus-scale
    * `sem_vecs/` artifact is STREAMED through a broadcast hash join
    * against the batch keyed on `centroid_id` — cell-local cosine work,
    * output bounded by batch size, no corpus shuffle and no
    * re-scoring of corpus pairs. The batch-internal smaller-id join is
    * batch-sized. Cost is linear in index size with a batch-sized
    * output — the from-scratch run's within-cell quadratic work over
    * the corpus is exactly what the artifact amortizes away.
    */
  def dedupSemanticBatch(
      spark: SparkSession,
      path: String,
      newVecs: DataFrame,
      idCol: String,
      vecCol: String): SemanticBatch = {
    val meta = Commit.readMeta(spark, s"$path/sem_meta")
    val tau = meta("tau").toDouble
    val centroids = Commit.open(spark, meta, "sem_centroids",
        s"$path/sem_centroids")
      .select(col("centroid_id"), col("cvec").as("__cv"))
    val assigned = graft.operators.Similarity
      .ivfAssign(newVecs, idCol, vecCol, centroids)
      .select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
        col("centroid_id"))
      .localCheckpoint()
    // corpus stage: ANY indexed cell-mate within tau shadows a batch
    // vector (kept or dropped — see the family contract above); the
    // corpus side streams, the batch side broadcasts
    val idx = Commit.open(spark, meta, "sem_vecs", s"$path/sem_vecs")
    val corpusHits = idx.as("i").join(broadcast(assigned.as("n")),
        col("i.centroid_id") === col("n.centroid_id") &&
        cosineFast(col("i.vec"), col("n.vec")) >= lit(tau))
      .select(col("n.vec_id")).distinct()
    val a = assigned.as("a"); val b = assigned.as("b")
    val internalHits = a.join(b,
        col("a.centroid_id") === col("b.centroid_id") &&
        col("a.vec_id") > col("b.vec_id") &&
        cosineFast(col("a.vec"), col("b.vec")) >= lit(tau))
      .select(col("a.vec_id")).distinct()
    // materialized: corpusHits scans sem_vecs/, and both the survivor
    // output and the absorb rows must be pinned before append files land
    // (batch-bounded, so it broadcasts — checkpointed frames carry no
    // stats for AQE to size)
    val dropped = corpusHits.union(internalHits).distinct()
      .localCheckpoint()
    SemanticBatch(
      survivors = assigned.join(broadcast(dropped), Seq("vec_id"), "left_anti")
        .select(col("vec_id").as(idCol), col("centroid_id")),
      newVecs = assigned.join(
          broadcast(dropped.select(col("vec_id"), lit(false).as("kept"))),
          Seq("vec_id"), "left")
        .select(col("vec_id"), col("centroid_id"), col("vec"),
          coalesce(col("kept"), lit(true)).as("kept")))
  }

  /** Append a [[dedupSemanticBatch]] result's vectors. IDEMPOTENT
    * against replay: vectors whose `vec_id` is already in the artifact
    * are anti-joined away (the index streams, the batch-bounded id set
    * broadcasts), so a crash between a committed absorb and its ingest
    * marker cannot double-store the batch — nor land a replay's
    * RECOMPUTED rows, whose `kept` flags are degraded by the batch
    * self-shadowing through the index. A Spark write job commits
    * atomically, so the replay sees exactly one of two states: absorb
    * committed (anti-join removes everything) or not (the recompute
    * equals the original and lands verbatim).
    */
  def absorbSemantic(
      spark: SparkSession,
      path: String,
      b: SemanticBatch,
      numFiles: Int = 8): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    Commit.unmarkClean(spark, path, "semantic")
    // present = index ids ∩ batch ids: the index STREAMS through a
    // broadcast semi join on the batch's id set; output batch-bounded
    val present = Commit.open(spark,
        Commit.readMeta(spark, s"$path/sem_meta"), "sem_vecs",
        s"$path/sem_vecs")
      .select(col("vec_id"))
      .join(broadcast(b.newVecs.select(col("vec_id"))),
        Seq("vec_id"), "left_semi")
    b.newVecs.join(broadcast(present), Seq("vec_id"), "left_anti")
      .repartition(numFiles, col("centroid_id"))
      .sortWithinPartitions("centroid_id", "vec_id")
      .write.mode("append").parquet(s"$path/sem_vecs")
  }

  /** Dedup an incoming embedding batch against the frozen semantic
    * index and absorb it: returns the batch survivors
    * `(idCol, centroid_id)` and appends every batch vector so the NEXT
    * append sees this batch as part of the corpus.
    */
  def appendSemantic(
      spark: SparkSession,
      path: String,
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      numFiles: Int = 8): DataFrame = {
    val b = dedupSemanticBatch(spark, path, newVecs, idCol, vecCol)
    absorbSemantic(spark, path, b, numFiles)
    b.survivors
  }

  /** Idempotent one-batch SEMANTIC ingest — [[ingestBatch]]'s protocol
    * for the embedding index ([[graft.streaming.StreamingDedup
    * .indexedSemanticStream]] runs this per micro-batch): marker →
    * no-op; else compute the pure [[dedupSemanticBatch]], overwrite the
    * batch's survivor output under `outPath/batch_id=N` unless its
    * output sentinel already landed (a post-absorb replay recomputes an
    * EMPTY survivor set — every batch vector now shadows itself at
    * cosine 1 — which must never clobber committed output), absorb,
    * mark.
    */
  def ingestSemanticBatch(
      spark: SparkSession,
      indexPath: String,
      outPath: String,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      numFiles: Int = 8): Unit =
    ingestOnce(spark, s"$indexPath/sem_ingested", outPath, batchId)(
      dedupSemanticBatch(spark, indexPath, batch, idCol, vecCol))(
      _.survivors, absorbSemantic(spark, indexPath, _, numFiles))

  /** Idempotent one-batch SUBSTRING ingest — [[ingestBatch]]'s protocol
    * for the gram index ([[graft.streaming.StreamingDedup
    * .indexedSubstringStream]] runs this per micro-batch): marker →
    * no-op; else compute the pure [[dedupSubstringBatch]], overwrite
    * the batch's rewrite output under `outPath/batch_id=N` unless its
    * output sentinel already landed, absorb, mark.
    */
  def ingestSubstringBatch(
      spark: SparkSession,
      indexPath: String,
      outPath: String,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      numFiles: Int = 8): Unit =
    ingestOnce(spark, s"$indexPath/grams_ingested", outPath, batchId)(
      dedupSubstringBatch(spark, indexPath, batch, idCol, textCol))(
      _.rewritten, absorbSubstring(spark, indexPath, _, numFiles))

  // ---------------------------------------------------------------------
  // Compaction — every append lands `numFiles` new parquet files and
  // (after crash replays) possibly duplicate rows, so after N appends a
  // probe opens ~N·numFiles files and streams dead rows. compact()
  // rewrites each artifact at the BUILD layout (bucketed, sorted,
  // `numFiles` total) with duplicates folded, under the meta-tombstone
  // swap of [[Commit.swapCompacted]] — a crash at any point leaves
  // either the old index, or a tombstoned one that load() refuses
  // loudly. Ingest markers SURVIVE compaction (unlike rebuild):
  // membership is unchanged, so "batch N is absorbed" stays true.
  // ---------------------------------------------------------------------

  /** Compact the exact/near-dup index: `hashes/` folds replay
    * duplicates (same hash appended twice by a crashed-and-replayed
    * absorb) with the arrival-order owner (min keep_id) winning;
    * `buckets/` folds to DISTINCT ownership rows. Probe results are
    * bit-identical before and after — both stages consume these
    * artifacts as key sets, which duplicates never changed; compaction only removes the dead
    * rows and restores the build file layout.
    *
    * A clean index (nothing absorbed since the last build/compact, per
    * its `_layout_clean_exact` sentinel) skips the rewrite and ignores
    * `numFiles`: it keeps the file layout it already has.
    */
  def compact(spark: SparkSession, path: String, numFiles: Int = 32): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    // nothing absorbed since the last build/compact: the artifacts are
    // already folded at their build layout — rewriting them would
    // reproduce the bytes on disk
    if (Commit.isClean(spark, path, "exact")) return
    val idx = load(spark, path)
    Commit.swapCompacted(spark, path, Seq(
      "hashes" -> idx.hashes.groupBy(col("text_hash"))
        .agg(min(col("keep_id")).as("keep_id"))
        .repartition(numFiles, col("text_hash"))
        .sortWithinPartitions("text_hash"),
      "buckets" -> idx.buckets.distinct()
        .repartition(numFiles, col("band"), col("bucket"))
        .sortWithinPartitions("band", "bucket")),
      s"$path/meta", Map("shingle_n" -> idx.shingleN,
        "num_hashes" -> idx.numHashes, "bands" -> idx.bands))
    Commit.markClean(spark, path, "exact")
  }

  /** Compact the substring gram index: `grams/` folds to DISTINCT
    * hashes at the build layout. Membership semantics again — probe
    * parity is exact. A clean gram index skips the rewrite and ignores
    * `numFiles`, as in [[compact]].
    */
  def compactSubstring(
      spark: SparkSession, path: String, numFiles: Int = 32): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    // no-op fast path — see [[compact]]'s sentinel note
    if (Commit.isClean(spark, path, "substring")) return
    val meta = Commit.readMeta(spark, s"$path/grams_meta")
    Commit.swapCompacted(spark, path, Seq(
      "grams" -> Commit.open(spark, meta, "grams", s"$path/grams")
        .distinct()
        .repartition(numFiles, col("gram_hash"))
        .sortWithinPartitions("gram_hash")),
      s"$path/grams_meta", meta)
    Commit.markClean(spark, path, "substring")
  }

  /** Compact the semantic index: fold replay-duplicate `vec_id` rows
    * (keeping the original row — `kept` folds by OR, repairing the
    * contradictory-flag corruption a pre-fix crash replay could leave)
    * and restore the cell-clustered build layout. Probe results are
    * BIT-IDENTICAL: the drop rule is an EXISTS over cell-mates and the
    * vector set is unchanged. A clean semantic index skips the rewrite
    * and ignores `numFiles`, as in [[compact]].
    */
  def compactSemantic(
      spark: SparkSession, path: String, numFiles: Int = 32): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    // no-op fast path — see [[compact]]'s sentinel note
    if (Commit.isClean(spark, path, "semantic")) return
    val meta = Commit.readMeta(spark, s"$path/sem_meta")
    // sem_centroids/ is small, frozen, and never appended: it stays
    // in place untouched
    val folded = Commit.open(spark, meta, "sem_vecs", s"$path/sem_vecs")
      .groupBy(col("vec_id"))
      .agg(max(struct(col("kept"), col("centroid_id"), col("vec")))
        .as("__r"))
      .select(col("vec_id"), col("__r.centroid_id").as("centroid_id"),
        col("__r.vec").as("vec"), col("__r.kept").as("kept"))
    Commit.swapCompacted(spark, path, Seq(
      "sem_vecs" -> folded.repartition(numFiles, col("centroid_id"))
        .sortWithinPartitions("centroid_id", "vec_id")),
      s"$path/sem_meta", meta)
    Commit.markClean(spark, path, "semantic")
  }
}
