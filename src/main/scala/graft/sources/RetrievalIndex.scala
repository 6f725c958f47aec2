package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index for BM25 lexical retrieval — the retrieval
  * leg of the frozen-artifact family ([[DedupIndex]] for dedup,
  * [[AnnIndex]] for vectors). A 100 TB corpus is tokenized ONCE into a
  * postings artifact; every later probe (contamination hunt, benchmark
  * overlap audit, corpus QA) is a broadcast join against it instead of
  * a corpus re-scan, and every ingest batch appends only its own
  * postings.
  *
  * Layout under `path/`:
  *   - `postings/`       — `(term, doc_id, dl, tf)` distinct by
  *     (term, doc_id), RANGE-partitioned by `(term, doc_id)` into
  *     `numFiles` files and sorted within files. Range, not hash:
  *     each file then covers a DISJOINT lexical term range, so a
  *     probe's In-filter prunes at file-footer min/max even when a
  *     file is a single row group (hash bucketing spreads every
  *     file across the whole alphabet and defeats exactly that
  *     pruning — measured in the `bm25_index_10x` stress). The
  *     layout survives compaction.
  *   - `batch_postings/<id>/` — per-append postings deltas, each
  *     written with `mode(overwrite)` to its OWN directory keyed by the
  *     caller's append id, so a crashed append REPLAYS IDEMPOTENTLY:
  *     the replay overwrites its delta in place and can never
  *     double-append rows (the [[Release]] lesson — `mode(append)` plus
  *     retry is silent duplication).
  *   - `batch_stats/<id>` — that append's `(n_docs, sum_dl)`, one
  *     [[Commit.writeMeta]] file written after its postings; a
  *     `<id>.tmp` left by an interrupted write is ignored.
  *   - `ingested/`       — batch markers for the exactly-once
  *     streaming cursor ([[Commit.once]]).
  *   - `meta`            — the corpus statistics of the build layout
  *     (`n_docs`, `sum_dl`: BIGINT sums, so exact and MERGEABLE —
  *     [[load]] adds each append's on the driver) and the postings
  *     schema; written LAST (tombstone-first discipline): a crash
  *     mid-build/mid-compact leaves no meta, so [[load]] fails loudly
  *     instead of pairing stale stats with half-built postings.
  *
  * Scoring is Okapi/Lucene BM25, bit-compatible with the direct
  * one-pass form ([[graft.operators.TextAnalysis.bm25Scores]]): same
  * tokenizer, same always-positive idf, and exact integer stats (dl
  * sums are BIGINT; the double `avgdl` division happens once), so an
  * index probe hash-matches the direct form's oracle. The probe plan
  * never shuffles the postings: query terms BROADCAST into the join,
  * df/idf are term-count-sized, and only query-term hits reach the
  * per-(qid, doc) aggregate.
  *
  * Crash window worth knowing: a reader that loads between a crashed
  * append's postings write and its stats write sees the batch's
  * postings under the OLD stats (scores drift low until the replay
  * lands). Both writes are idempotent overwrites, so the replay
  * converges to the from-scratch statistics; [[compact]] folds the
  * deltas back to the build layout.
  */
object RetrievalIndex {

  /** A loaded index: the unioned postings frame plus exact corpus
    * statistics (document count and summed document length).
    */
  final case class Loaded(postings: DataFrame, nDocs: Long, sumDl: Long)

  /** The exact-decon family tokenizer (lowercase, whitespace split) —
    * MUST stay in lockstep with [[graft.operators.TextAnalysis.bm25Scores]]
    * for the probe-parity contract.
    */
  private def tokens(text: org.apache.spark.sql.Column) =
    filter(split(trim(lower(text)), "\\s+"), w => length(w) > 0)

  /** Postings rows for one corpus slice: `(term, doc_id, dl, tf)`,
    * distinct by (term, doc_id). One explode + one partial-aggregable
    * groupBy; `dl` rides the grouping key (constant per doc, so it
    * adds no groups). `doc_id` keeps the caller's NATIVE id type — a
    * cast (e.g. to long) would silently null out non-numeric ids and
    * collapse all such docs into one corrupt postings group, breaking
    * the bit-parity contract with
    * [[graft.operators.TextAnalysis.bm25Scores]], which accepts any id
    * type. Any orderable type range-partitions and sorts fine; a
    * non-orderable id fails loudly at the exchange instead.
    */
  private def postingsOf(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("int").as("tf"))

  /** Exact corpus statistics of `docs` as meta fields, computed by one
    * aggregate — BIGINT so appends merge losslessly. Empty docs count
    * toward `n_docs` with `dl = 0`, matching the direct form's
    * `avg(size(toks))`.
    */
  private def statsOf(
      docs: DataFrame, textCol: String): Map[String, Long] = {
    val r = docs.select(tokens(col(textCol)).as("__toks"))
      .agg(count(lit(1)), coalesce(sum(size(col("__toks")).cast("long")),
        lit(0L)))
      .head()
    Map("n_docs" -> r.getLong(0), "sum_dl" -> r.getLong(1))
  }

  /** Build (or atomically rebuild) the index from a corpus. Stale
    * append deltas and ingest markers die with the meta tombstone —
    * surviving a rebuild they would replay against the wrong corpus
    * state.
    */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numFiles: Int = 32): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    val spark = docs.sparkSession
    Commit.tombstone(spark,
      Seq("meta", "ingested", "batch_postings", "batch_stats")
        .map(d => s"$path/$d"): _*)
    val postings = postingsOf(docs, idCol, textCol)
    postings.repartitionByRange(numFiles, col("term"), col("doc_id"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").parquet(s"$path/postings")
    Commit.writeMeta(spark, s"$path/meta", statsOf(docs, textCol) +
      Commit.schemaEntry("postings", postings))
  }

  private def nonEmptyDir(spark: SparkSession, d: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(d)
    val fs = Commit.fs(spark, d)
    fs.exists(hp) && fs.listStatus(hp).nonEmpty
  }

  def load(spark: SparkSession, path: String): Loaded = {
    val meta = Commit.readMeta(spark, s"$path/meta") // the load gate
    val postings = Commit.open(spark, meta, "postings", s"$path/postings")
    val deltas = s"$path/batch_postings"
    // each append's stats, added on the driver; a `.tmp` among them is
    // an interrupted write's leftover, a dot file a checksum
    val f = Commit.fs(spark, path)
    val statsDir = new org.apache.hadoop.fs.Path(s"$path/batch_stats")
    val appended =
      if (!f.exists(statsDir)) Seq.empty[Map[String, String]]
      else f.listStatus(statsDir).toSeq.map(_.getPath.getName)
        .filterNot(n => n.endsWith(".tmp") || n.startsWith("."))
        .map(id => Commit.readMeta(spark, s"$path/batch_stats/$id"))
    def total(k: String) = (meta +: appended).map(_(k).toLong).sum
    Loaded(
      postings =
        if (!nonEmptyDir(spark, deltas)) postings
        else postings.unionByName(spark.read
          .schema(postings.schema)
          .option("recursiveFileLookup", "true").parquet(deltas)),
      nDocs = total("n_docs"),
      sumDl = total("sum_dl"))
  }

  /** BM25 scores of a query set against the frozen index — the probe
    * half, no writes, hash-identical to
    * [[graft.operators.TextAnalysis.bm25Scores]] over the indexed
    * corpus. Output `(qid, doc_id, score)`, one row per (query, doc
    * with ≥ 1 matching term); `score` is a RAW double (callers round).
    */
  def score(
      spark: SparkSession,
      path: String,
      queries: Seq[(Long, String)],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    import spark.implicits._
    val idx = load(spark, path)
    require(idx.nDocs > 0, s"retrieval index at $path is empty")
    val qpairs = queries.flatMap { case (qid, q) =>
      q.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(t => (qid, t))
    }
    val qterms = qpairs.toDF("qid", "term")
    // the query-term set is known driver-side, so push it INTO the
    // parquet scan as an In filter: with the term-RANGE layout the
    // file/row-group min-max stats prune everything but the matching
    // term ranges — the probe reads a sliver of the artifact
    // (and the df aggregate's second pass over `hits` prunes the same
    // way instead of re-reading the whole postings directory)
    val termSet = qpairs.map(_._2).distinct
    val hits = idx.postings
      .filter(col("term").isin(termSet: _*))
      .join(broadcast(qterms), Seq("term"))
    // postings are distinct per (term, doc), so df is a plain count;
    // the result is ≤ |query terms| rows — broadcast back
    val dfreq = hits.groupBy(col("qid"), col("term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    // exact integer stats → ONE double division, bit-equal to the
    // direct form's avg() (whose double sum over integer dl is exact)
    val n = idx.nDocs.toDouble
    val avgdl = idx.sumDl.toDouble / idx.nDocs
    hits.join(broadcast(dfreq), Seq("qid", "term"))
      .withColumn("__idf",
        log(lit(1.0) + (lit(n) - col("__df") + 0.5) / (col("__df") + 0.5)))
      .withColumn("__s",
        col("__idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + (col("dl") / lit(avgdl) * b + (1 - b)) * k1))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("__s")).as("score"))
  }

  /** Append a batch of NEW documents under a caller-chosen id. Replay
    * with the same id is a no-op (marker) or an idempotent overwrite
    * of both delta directories (crashed mid-append) — it can never
    * duplicate postings. Appending the same DOC twice under different
    * ids is caller error (its tf would double), same as every family's
    * append contract.
    */
  def append(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      appendId: String,
      numFiles: Int = 8): Unit = {
    require(appendId.nonEmpty && !appendId.contains("/") &&
      !appendId.endsWith(".tmp"),
      s"appendId must be a single path segment not ending in .tmp," +
        s" got '$appendId'")
    // stats strictly AFTER postings: a crash between the two leaves
    // postings under the old stats (the class doc's crash window),
    // never stats without their postings, which would skew every doc's
    // score until the replay
    Commit.once(spark, s"$path/ingested/append_$appendId") {
      postingsOf(newDocs, idCol, textCol)
        .repartitionByRange(numFiles, col("term"), col("doc_id"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").parquet(s"$path/batch_postings/$appendId")
      Commit.writeMeta(spark, s"$path/batch_stats/$appendId",
        statsOf(newDocs, textCol))
    }
  }

  /** The streaming ingest cursor: foreachBatch → one [[append]] keyed
    * by the micro-batch id. With a durable checkpoint the stream's
    * at-least-once replays hit the marker/idempotent-overwrite path,
    * so each micro-batch's postings land exactly once.
    */
  def ingestBatch(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      numFiles: Int = 8): Unit =
    append(spark, path, batch, idCol, textCol, s"b$batchId", numFiles)

  /** Fold the append deltas back into the build layout. Postings rows
    * are already distinct by (term, doc) across deltas (append
    * contract), so this is a pure re-bucket — probe scores are equal
    * before and after up to floating-point summation order (the
    * re-bucket changes the order the per-(qid, doc) `sum` adds its
    * terms in); the stats fold into the meta. Ingest markers SURVIVE
    * compaction (unlike a rebuild): the folded state still contains
    * those batches, and a replay after compaction must keep no-oping.
    *
    * An index with no append deltas since the last build/compact skips
    * the rewrite and ignores `numFiles`: it keeps the file layout it
    * already has.
    */
  def compact(spark: SparkSession, path: String, numFiles: Int = 32): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    // generation fast path: the delta directories ARE the fold input —
    // with no appends since the last build/compact there is nothing to
    // fold, and the base artifacts are exactly as that build/compact
    // left them (guide §6: don't rewrite unchanged data)
    if (!nonEmptyDir(spark, s"$path/batch_postings") &&
        !nonEmptyDir(spark, s"$path/batch_stats")) return
    val idx = load(spark, path)
    Commit.swapCompacted(spark, path, Seq(
      "postings" -> idx.postings
        .repartitionByRange(numFiles, col("term"), col("doc_id"))
        .sortWithinPartitions("term", "doc_id")),
      s"$path/meta", Map("n_docs" -> idx.nDocs, "sum_dl" -> idx.sumDl),
      folded = Seq(s"$path/batch_postings", s"$path/batch_stats"))
  }
}
