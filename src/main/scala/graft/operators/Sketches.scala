package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.functions.TextFunctions.hash60
import graft.sources.EpochStore

/** Mergeable cardinality sketches — HyperLogLog register tables as
  * first-class, PERSISTED DataFrames (Flajolet et al. 2007, "HyperLogLog:
  * the analysis of a near-optimal cardinality estimation algorithm").
  * Not part of the reference surface — a north-star extension: "how many
  * distinct normalized documents / URLs / token types does this corpus
  * hold" is a standing operational question at 100 TB, and the exact
  * answer (`count(distinct ...)`) is a full corpus-keyed shuffle every
  * time it is asked. An HLL register table answers it from `2^p` tiny
  * rows, is MERGEABLE (register-wise `max` — a commutative, idempotent
  * CRDT join), and therefore composes across corpus snapshots: sketch
  * each crawl batch once, merge the registers, never rescan history.
  * The same property makes streaming ingestion safe under at-least-once
  * replay with NO marker protocol — re-merging a replayed micro-batch
  * is a no-op by algebra, where [[graft.sources.DedupIndex]] needs an
  * explicit absorb-marker dance for the identical crash window.
  *
  * Engine-portable determinism: the hashed value is
  * [[graft.functions.TextFunctions.hash60]] (md5-prefix), the register
  * index its top `p` bits and the rank the leading-zero count of the
  * remaining `60-p` bits — all integer/string arithmetic both Spark and
  * the DuckDB oracle reproduce bit-for-bit (`bin()` string length on
  * both engines; no platform hash, no float in the register path). The
  * estimator keeps the inverse-power sum in DECIMAL(38,0) — every term
  * `2^(K-rank)` is an exact integer — so the one double conversion
  * happens on an identical integer in every engine and summation order
  * cannot perturb the estimate (a naive `sum(pow(2,-rank))` is
  * order-dependent once partial sums exceed 2^53 ulps of the smallest
  * term).
  *
  * Scale shape: register construction is one partial-aggregable
  * `groupBy(bucket).agg(max(rank))` — map-side combine collapses every
  * partition to ≤ 2^p rows before the exchange, so the shuffle moves
  * O(2^p · partitions) rows regardless of corpus size, and the artifact
  * is ≤ 2^p rows (~100 KB at p=12) for any input. Standard error is
  * ~1.04/sqrt(2^p): p=12 → ~1.6%, p=14 → ~0.8%.
  */
object Sketches {

  /** Max register rank for `p`: ranks live in `[1, 60-p+1]`. */
  private def maxRank(p: Int): Int = 60 - p + 1

  private def checkP(p: Int): Unit =
    require(p >= 4 && p <= 18, s"p must be in [4,18], got $p")

  /** The (bucket, rank) projection shared by the flat and grouped
    * register builders.
    */
  private def bucketAndRank(value: Column, p: Int): (Column, Column) = {
    val sub = 60 - p
    val h = hash60(value.cast("string"))
    val bucket = shiftright(h, sub)
    val w = h.bitwiseAND(lit((1L << sub) - 1L))
    // rank = leading zeros of the low `sub` bits, plus one. bin(w)'s
    // string length is w's bit length (both engines agree, including
    // bin(0) = "0" — guarded by the w = 0 branch), so
    // rank = sub - bitlen(w) + 1 with no float anywhere.
    val rank = when(w === 0L, lit(sub + 1))
      .otherwise(lit(sub + 1) - length(bin(w)))
    (bucket, rank)
  }

  /** HLL register table `(bucket: LONG, max_rank: INT)` for the distinct
    * non-null values of `value` (cast to string before hashing, the
    * shared convention of every hash-keyed operator here). At most
    * `2^p` rows; buckets no value hashed into are ABSENT (register 0).
    */
  def hllRegisters(df: DataFrame, value: Column, p: Int): DataFrame = {
    checkP(p)
    val (bucket, rank) = bucketAndRank(value, p)
    df.filter(value.isNotNull)
      .select(bucket.as("bucket"), rank.cast("int").as("rank"))
      .groupBy(col("bucket"))
      .agg(max(col("rank")).as("max_rank"))
  }

  /** Per-group register tables `(groups..., bucket, max_rank)` — one
    * sketch per group in ONE corpus pass (the operational form: distinct
    * documents/URLs per source, per language, per crawl snapshot). The
    * same partial-aggregable shape keyed on (groups, bucket): a group's
    * register rows bound at 2^p however hot the group, and a null group
    * is a real group (groupBy semantics). Registers of the same group
    * from different batches merge with [[hllMerge]] on (groups, bucket)
    * — done inline by unioning before this aggregate.
    */
  def hllRegistersBy(
      df: DataFrame, groups: Seq[String], value: Column, p: Int): DataFrame = {
    checkP(p)
    require(groups.nonEmpty, "groups must be non-empty (use hllRegisters)")
    val (bucket, rank) = bucketAndRank(value, p)
    df.filter(value.isNotNull)
      .select(groups.map(col) ++
        Seq(bucket.as("bucket"), rank.cast("int").as("rank")): _*)
      .groupBy(groups.head, groups.tail :+ "bucket": _*)
      .agg(max(col("rank")).as("max_rank"))
  }

  /** Per-group estimates `(groups..., m, v_zero, raw_estimate,
    * estimate)` from [[hllRegistersBy]] output — the same exact-integer
    * estimator, one row per group.
    */
  def hllEstimateBy(
      registers: DataFrame, groups: Seq[String], p: Int): DataFrame = {
    checkP(p)
    val m = 1L << p
    registers
      .groupBy(groups.head, groups.tail: _*)
      .agg(count(lit(1)).as("__nz"),
        sum(invPowerTerm(col("max_rank"), p)).as("__s"))
      .select(groups.map(col) ++ Seq(
        lit(m).as("m"),
        (lit(m) - col("__nz")).cast(LongType).as("v_zero"),
        rawEstimateCol(col("__nz"), col("__s"), p).as("raw_estimate")): _*)
      .select(groups.map(col) ++ Seq(col("m"), col("v_zero"),
        col("raw_estimate"),
        correctedEstimateCol(col("raw_estimate"), col("v_zero"), p)
          .as("estimate")): _*)
  }

  /** Merge register tables: register-wise max. Commutative, associative,
    * idempotent — merging any re-ordering, re-batching, or repetition of
    * the same inputs yields identical registers (the CRDT property the
    * artifact's append path and streaming ingestion lean on).
    *
    * BOTH inputs must be registers of the SAME precision `p`: a bare
    * register frame does not carry `p`, so merging mismatched sketches
    * cannot be detected here and yields a garbage estimate. The
    * persisted path ([[appendHll]]) enforces this through the artifact
    * meta; callers composing in-session sketches carry `p` themselves
    * (the [[LoadedHll]] shape).
    */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.union(b).groupBy(col("bucket")).agg(max(col("max_rank")).as("max_rank"))

  /** alpha_m: the bias-correction constants from the paper. */
  private def alphaFor(p: Int): Double = {
    val m = 1L << p
    if (p == 4) 0.673 else if (p == 5) 0.697 else if (p == 6) 0.709
    else 0.7213 / (1.0 + 1.079 / m)
  }

  /** The register inverse-power term `2^(K - max_rank)` — an exact
    * double (rank ≥ 1 → exponent ≤ K-1 ≤ 56) summed in DECIMAL(38,0)
    * exact integer arithmetic.
    */
  private def invPowerTerm(rank: Column, p: Int): Column =
    pow(lit(2.0), lit(maxRank(p).toDouble) - rank.cast("double"))
      .cast(DecimalType(38, 0))

  /** raw = alpha · m² / sum(2^-rank) = alpha · m² · 2^K / S, with S =
    * sum over present registers of 2^(K-rank) plus 2^K per absent
    * register — the absent-register term stays in LONG ((m-nz)·2^K ≤
    * 2^(p+K) ≤ 2^61), so S is exact integer arithmetic end-to-end and
    * its one double conversion lands on the identical value in every
    * engine. The ONE definition behind [[hllEstimate]],
    * [[hllEstimateBy]], and [[hllOverlapEstimate]].
    */
  private def rawEstimateCol(nz: Column, s: Column, p: Int): Column = {
    val m = 1L << p
    val k = maxRank(p)
    lit(alphaFor(p) * m.toDouble * m.toDouble * math.pow(2.0, k.toDouble)) /
      (coalesce(s, lit(0).cast(DecimalType(38, 0))) +
        (lit(m) - nz).cast(LongType) * lit(1L << k)).cast("double")
  }

  /** The published small-range correction: linear counting `m·ln(m/v)`
    * when `raw ≤ 2.5m` and `v` empty registers remain.
    */
  private def correctedEstimateCol(raw: Column, vZero: Column, p: Int): Column = {
    val m = 1L << p
    when(raw <= lit(2.5 * m) && vZero > 0,
      lit(m.toDouble) * log(lit(m).cast("double") / vZero)).otherwise(raw)
  }

  /** Cardinality estimate from a register table: one row
    * `(m, v_zero, raw_estimate, estimate)` — `m = 2^p` registers,
    * `v_zero` the empty-register count, `raw_estimate` the harmonic-mean
    * estimator and `estimate` the published small-range correction.
    * Doubles are returned RAW — harness projections round for
    * the comparator, callers get full precision.
    */
  def hllEstimate(registers: DataFrame, p: Int): DataFrame = {
    checkP(p)
    val m = 1L << p
    registers
      .agg(count(lit(1)).as("__nz"),
        sum(invPowerTerm(col("max_rank"), p)).as("__s"))
      .select(
        lit(m).as("m"),
        (lit(m) - col("__nz")).cast(LongType).as("v_zero"),
        rawEstimateCol(col("__nz"), col("__s"), p).as("raw_estimate"))
      .select(col("m"), col("v_zero"), col("raw_estimate"),
        correctedEstimateCol(col("raw_estimate"), col("v_zero"), p)
          .as("estimate"))
  }

  /** [[hllRegisters]] → [[hllEstimate]] in one call. */
  def distinctApprox(df: DataFrame, value: Column, p: Int = 12): DataFrame =
    hllEstimate(hllRegisters(df, value, p), p)

  /** Set algebra over two SAME-`p` register tables — the snapshot-diff
    * question ("how many documents do crawls A and B share / how many
    * are new in B") answered from two ≤ 2^p-row artifacts by
    * inclusion-exclusion: `|A∩B| ≈ E(A) + E(B) − E(A∪B)`, with the
    * union sketch exact by the merge law (max-merge of registers IS the
    * sketch of the union — no extra error beyond the two inputs').
    * One full-outer bucket join + ONE aggregate computes all three
    * estimates; output a single row `(m, est_a, est_b, est_union,
    * est_intersection)` with the intersection clamped at 0 (sketch
    * noise can drive inclusion-exclusion slightly negative). Estimates
    * carry each arm's small-range correction, the [[hllEstimate]]
    * arithmetic verbatim; doubles RAW (harness rounds). Relative error
    * on the intersection degrades as the true overlap shrinks (it is a
    * difference of similar-sized estimates) — the standard HLL
    * inclusion-exclusion caveat, acceptable for the snapshot telemetry
    * this serves.
    */
  def hllOverlapEstimate(a: DataFrame, b: DataFrame, p: Int): DataFrame = {
    checkP(p)
    val m = 1L << p
    def term(r: Column) = when(r.isNotNull, invPowerTerm(r, p))
    val j = a.select(col("bucket"), col("max_rank").as("__ra"))
      .join(b.select(col("bucket"), col("max_rank").as("__rb")),
        Seq("bucket"), "full")
    val agg = j.agg(
      count(col("__ra")).as("__nza"),
      sum(term(col("__ra"))).as("__sa"),
      count(col("__rb")).as("__nzb"),
      sum(term(col("__rb"))).as("__sb"),
      count(lit(1)).as("__nzu"),
      sum(term(greatest(col("__ra"), col("__rb")))).as("__su"))
    def est(nz: Column, s: Column): Column =
      correctedEstimateCol(rawEstimateCol(nz, s, p),
        (lit(m) - nz).cast(LongType), p)
    agg.select(
        lit(m).as("m"),
        est(col("__nza"), col("__sa")).as("est_a"),
        est(col("__nzb"), col("__sb")).as("est_b"),
        est(col("__nzu"), col("__su")).as("est_union"))
      .select(col("m"), col("est_a"), col("est_b"), col("est_union"),
        greatest(lit(0.0),
          col("est_a") + col("est_b") - col("est_union"))
          .as("est_intersection"))
      // derived similarity ratios — what the snapshot-diff consumer
      // actually reads: Jaccard (how similar are the crawls) and each
      // side's containment (what fraction of A is already inside B —
      // the "is this snapshot worth ingesting" number). Zero-denominator
      // guards make empty sketches read 0, not null/NaN.
      .select(col("m"), col("est_a"), col("est_b"), col("est_union"),
        col("est_intersection"),
        when(col("est_union") > 0,
          col("est_intersection") / col("est_union"))
          .otherwise(lit(0.0)).as("est_jaccard"),
        when(col("est_a") > 0,
          col("est_intersection") / col("est_a"))
          .otherwise(lit(0.0)).as("containment_a"),
        when(col("est_b") > 0,
          col("est_intersection") / col("est_b"))
          .otherwise(lit(0.0)).as("containment_b"))
  }

  // ------------------------------------------------------------------
  // Persisted sketch artifact — the [[graft.sources.EpochStore]]
  // versioned-epoch layout (see its scaladoc for the crash-window
  // reasoning: every window leaves a LOADABLE artifact, the property an
  // incremental sketch needs and the tombstone order cannot give)
  // ------------------------------------------------------------------

  /** A loaded sketch: registers plus the precision it was built under. */
  final case class LoadedHll(registers: DataFrame, p: Int)

  /** Write a fresh sketch of `value` over `df` at `path` (epoch 0). */
  def writeHll(df: DataFrame, value: Column, path: String, p: Int = 12): Unit = {
    checkP(p)
    EpochStore.build(df.sparkSession, path, hllRegisters(df, value, p),
      Map("p" -> p))
  }

  /** Load the live epoch's registers. Fails if no committed meta. */
  def loadHll(spark: SparkSession, path: String): LoadedHll = {
    val (m, registers) = EpochStore.load(spark, path)
    LoadedHll(registers, m("p").toInt)
  }

  /** Merge a new batch into the persisted sketch — the incremental
    * path: sketch the batch (one pass over the BATCH only), max-merge
    * with the live registers (≤ 2·2^p rows), commit as the next epoch.
    * Cost is O(batch) + O(2^p); the corpus history is never rescanned.
    * Initializes the artifact when `path` is EMPTY, so a cold-start
    * stream needs no separate build step (`p` applies only then: an
    * existing artifact's own precision governs every later append; a
    * torn meta flip fails loudly instead of re-initializing —
    * [[EpochStore.append]]). Idempotent: appending the same batch twice
    * commits an epoch with identical registers.
    */
  def appendHll(df: DataFrame, value: Column, path: String, p: Int = 12): Unit = {
    val spark = df.sparkSession
    EpochStore.append(spark, path)(_ => writeHll(df, value, path, p)) {
      (m, stored) =>
        hllMerge(stored, hllRegisters(df, value, m("p").toInt))
          .localCheckpoint()
    }
  }

  /** Streaming ingestion: per micro-batch, [[appendHll]] the batch into
    * the artifact. At-least-once replay is safe WITHOUT markers — the
    * register merge is idempotent (see object doc) — so a crash between
    * epoch commit and checkpoint advance merely re-merges on restart.
    * Caller starts/stops the returned writer (AvailableNow for drains).
    */
  def hllIngestStream(
      stream: DataFrame,
      value: Column,
      path: String,
      p: Int = 12): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    checkP(p)
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        appendHll(batch, value, path, p)
    }
  }

  // ------------------------------------------------------------------
  // Count-Min sketch — the FREQUENCY twin of the HLL (Cormode &
  // Muthukrishnan 2005, "An improved data stream summary: the
  // count-min sketch and its applications")
  // ------------------------------------------------------------------
  //
  // depth×width counters as rows `(row, bucket, cnt)`: "how often does
  // this gram / URL / line appear across the whole corpus history"
  // answered from `depth·width` rows instead of a corpus-wide gram
  // table — heavy-hitter confirmation, boilerplate tracking, and
  // per-snapshot frequency deltas without keeping (or re-aggregating)
  // billions of distinct keys. Point estimates are min over `depth`
  // counters: NEVER an underestimate, over by at most ~e·N/width with
  // probability 1-e^-depth. Merge is counter-wise SUM — like the HLL's
  // max it is commutative/associative (batch-order invariant), though
  // NOT idempotent: a replayed batch double-counts, so blind re-merge
  // is unsafe for streams — [[cmsIngestStream]] closes the hazard by
  // riding an exactly-once batch-id cursor in the epoch meta (the
  // atomic flip that commits counters commits the cursor with them);
  // [[appendCms]] remains the batch API and documents the hazard.
  //
  // Row hashes are the portable md5-prefix hash over "<row>:"+value —
  // independent-enough rows by salt, and every engine (and the DuckDB
  // oracle) re-derives the identical counter table.

  private def checkCms(depth: Int, width: Int): Unit = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1,8], got $depth")
    require(width >= 16, s"width must be >= 16, got $width")
  }

  /** CMS counter table `(row: INT, bucket: LONG, cnt: LONG)` over the
    * non-null values of `value`, each weighted by `weight` (default 1 —
    * pass e.g. a token count for token-weighted frequencies). One
    * partial-aggregable pass: the depth-way fan-out collapses map-side
    * to ≤ depth·width combined rows per partition.
    */
  def cmsCounters(
      df: DataFrame,
      value: Column,
      depth: Int = 4,
      width: Int = 1024,
      weight: Column = lit(1L)): DataFrame = {
    checkCms(depth, width)
    val rows = (0 until depth).map { j =>
      struct(lit(j).as("row"),
        pmod(hash60(concat(lit(s"$j:"), value.cast("string"))),
          lit(width.toLong)).as("bucket"))
    }
    df.filter(value.isNotNull)
      .select(explode(array(rows: _*)).as("rb"), weight.cast("long").as("w"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(sum(col("w")).as("cnt"))
  }

  /** Merge counter tables: counter-wise sum (commutative/associative;
    * NOT idempotent — see section doc).
    */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.union(b).groupBy(col("row"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Point estimates for a candidate frame: one row per DISTINCT input
    * row with `est` = min over the sketch's depth counters (0 for a
    * bucket no value hashed into — only possible when the candidate
    * never occurred). The counter table rides a broadcast join
    * (≤ depth·width rows) under `__cms_`-prefixed key names, so
    * candidate frames may themselves carry `row`/`bucket`/`cnt`
    * columns (e.g. rows taken from another CMS table). Candidates are
    * treated as a SET: duplicate candidate rows collapse to one output
    * row (the rollup groups by the full candidate row).
    */
  def cmsEstimate(
      counters: DataFrame,
      candidates: DataFrame,
      value: Column,
      depth: Int = 4,
      width: Int = 1024): DataFrame = {
    checkCms(depth, width)
    val rows = (0 until depth).map { j =>
      struct(lit(j).as("row"),
        pmod(hash60(concat(lit(s"$j:"), value.cast("string"))),
          lit(width.toLong)).as("bucket"))
    }
    // rename BY NAME, not position — a re-projected counter frame with
    // a different column order must not silently mis-key the join
    val keyed = counters.select(col("row").as("__cms_row"),
      col("bucket").as("__cms_bucket"), col("cnt").as("__cms_cnt"))
    candidates
      .select(struct(col("*")).as("__cand"),
        explode(array(rows: _*)).as("__rb"))
      .select(col("__cand"), col("__rb.row").as("__cms_row"),
        col("__rb.bucket").as("__cms_bucket"))
      .join(broadcast(keyed), Seq("__cms_row", "__cms_bucket"), "left")
      .groupBy(col("__cand"))
      .agg(min(coalesce(col("__cms_cnt"), lit(0L))).as("est"))
      .select(col("__cand.*"), col("est"))
  }

  /** A loaded CMS: counters plus the geometry they were built under. */
  final case class LoadedCms(counters: DataFrame, depth: Int, width: Int)

  /** Write a fresh CMS of `value` over `df` at `path` (epoch 0). The
    * meta carries `last_batch_id` alongside the geometry: the
    * exactly-once cursor for [[cmsIngestStream]] (-1 = no stream batch
    * absorbed), committed by the same atomic flip as the counters.
    */
  def writeCms(
      df: DataFrame,
      value: Column,
      path: String,
      depth: Int = 4,
      width: Int = 1024,
      weight: Column = lit(1L),
      lastBatchId: Long = -1L): Unit =
    EpochStore.build(df.sparkSession, path,
      cmsCounters(df, value, depth, width, weight),
      Map("depth" -> depth, "width" -> width), lastBatchId)

  /** Load the live epoch's counters. Fails if no committed meta. */
  def loadCms(spark: SparkSession, path: String): LoadedCms = {
    val (m, counters) = EpochStore.load(spark, path)
    LoadedCms(counters, m("depth").toInt, m("width").toInt)
  }

  /** Sum a new batch into the persisted CMS — one pass over the BATCH,
    * a ≤ 2·depth·width-row merge, one epoch commit; initializes only an
    * EMPTY path (`depth`/`width` apply only then — an existing
    * artifact's geometry governs every later append; a torn meta flip
    * fails loudly). NOT replay-idempotent (sum double-counts): callers
    * ingesting from an at-least-once source must gate appends on their
    * own batch markers.
    */
  def appendCms(
      df: DataFrame,
      value: Column,
      path: String,
      depth: Int = 4,
      width: Int = 1024,
      weight: Column = lit(1L)): Unit =
    absorbCms(df, value, path, None, depth, width, weight)

  /** The shared append of [[appendCms]] (no cursor: the stored one is
    * carried) and [[ingestCmsBatch]]: sum-merge the batch's counters
    * into the live epoch under the artifact's own geometry.
    */
  private def absorbCms(
      df: DataFrame, value: Column, path: String, batchId: Option[Long],
      depth: Int, width: Int, weight: Column): Unit = {
    val spark = df.sparkSession
    EpochStore.append(spark, path, batchId, "CMS")(cursor =>
      writeCms(df, value, path, depth, width, weight, cursor)) {
      (m, stored) =>
        cmsMerge(stored, cmsCounters(df, value, m("depth").toInt,
          m("width").toInt, weight)).localCheckpoint()
    }
  }

  /** Absorb ONE stream micro-batch into the persisted CMS,
    * exactly-once: the batch id is compared against the committed
    * `last_batch_id` cursor — a REPLAYED batch (`batchId == cursor`)
    * returns without merging, closing the double-count hazard
    * [[appendCms]] documents with no marker file (the cursor rides the
    * meta, so the atomic flip that commits counters commits it);
    * a batch id BELOW the cursor is never a legitimate replay — it
    * means the stream's checkpoint was lost or reset and ids restarted
    * — and FAILS LOUDLY rather than silently discarding those batches'
    * data. Crash windows as in [[EpochStore.append]]: a replay re-merges
    * from unchanged state, fails loud on a torn flip (manual recovery —
    * the one window that needs it, never a silent double-count), or
    * no-ops after the flip.
    */
  def ingestCmsBatch(
      df: DataFrame,
      value: Column,
      path: String,
      batchId: Long,
      depth: Int = 4,
      width: Int = 1024,
      weight: Column = lit(1L)): Unit =
    absorbCms(df, value, path, Some(batchId), depth, width, weight)

  /** Streaming CMS ingestion — [[ingestCmsBatch]] per micro-batch:
    * frequency telemetry absorbed at ingest with exactly-once batch
    * accounting (see [[ingestCmsBatch]] for the crash windows). Caller
    * starts the returned writer with a durable checkpoint.
    */
  def cmsIngestStream(
      stream: DataFrame,
      value: Column,
      path: String,
      depth: Int = 4,
      width: Int = 1024,
      weight: Column = lit(1L)): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    checkCms(depth, width)
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ingestCmsBatch(batch, value, path, batchId, depth, width, weight)
    }
  }

  // ------------------------------------------------------------------
  // Mergeable quantile summaries (bottom-k uniform sample; Cohen &
  // Kaplan 2007's bottom-k sketch carrying a VALUE payload)
  // ------------------------------------------------------------------
  //
  // The third leg of the sketch family: HLL answers "how many
  // distinct", CMS "how often", this answers "how is it DISTRIBUTED" —
  // per-language/per-source length and score quantiles (the curation
  // cutoff question) from k rows per group instead of a per-group sort
  // of the corpus. The summary is the k smallest-id-hash rows of each
  // group with their values: a uniform without-replacement sample whose
  // rank-quantile error is O(1/sqrt(k)), DETERMINISTIC (membership is a
  // pure function of the id, the [[graft.operators.Sampling]] hash
  // order), and MERGEABLE — bottom-k(A ∪ B) =
  // bottom-k(bottom-k(A) ∪ bottom-k(B)) per group, so per-batch
  // summaries fold into a standing artifact at O(batch + groups·k)
  // without rescanning history, exactly the sample-index law. Unlike
  // GK/KLL-style compactor sketches, the summary is engine-replayable
  // row-for-row (no merge-order-dependent compaction state), which is
  // what lets a SQL oracle pin it.
  //
  // Scale shape: selection is [[Sampling.sampleExactPerStratum]]'s
  // bounded heap — a hot group collapses to ≤ k entries per map task
  // before the one group-keyed exchange; the estimator sorts ≤ k rows
  // per group. Nothing corpus-sized is ever sorted.

  /** Per-group quantile summary: the `k` smallest-id-hash rows of each
    * `groupCol` group with their `valueCol` payload. Output
    * `(groupCol, idCol, valueCol, sample_rank)`; groups smaller than
    * `k` keep every row (their estimates are exact). A null group is a
    * real group.
    */
  def quantileSummaryBy(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      groupCol: String,
      k: Int = 256): DataFrame = {
    require(k > 0, "k must be positive")
    // duplicate (group, id) rows collapse to ONE member BEFORE the
    // join-back — selection already dedups on (stratum, surrogate), and
    // without this fold both payload rows would resurface through the
    // join (n_sample > k, double-weighted percentiles, duplicated
    // ranks). min(value) makes the surviving payload deterministic;
    // at-least-once ingests replaying identical rows collapse exactly.
    val uniq = df.select(col(groupCol), col(idCol), col(valueCol))
      .groupBy(col(groupCol), col(idCol))
      .agg(min(col(valueCol)).as(valueCol))
    val sel = graft.operators.Sampling
      .sampleExactPerStratum(uniq.select(col(groupCol), col(idCol)),
        idCol, groupCol, k)
      .select(col(groupCol).as("__qg"), col(idCol).as("__qid"),
        col("sample_rank"))
    uniq
      .join(broadcast(sel),
        col(groupCol) <=> col("__qg") && col(idCol) === col("__qid"))
      .select(col(groupCol), col(idCol), col(valueCol), col("sample_rank"))
  }

  /** Interpolated quantile estimates from a summary: one row per group
    * with `p25/p50/p75` (the `percentile` interpolation both engines
    * share — exact over the ≤ k summary rows) and `n_sample`. For
    * groups smaller than `k` these are the group's EXACT quantiles.
    */
  def quantileEstimateBy(
      summary: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame =
    summary.groupBy(col(groupCol)).agg(
      round(percentile(col(valueCol), lit(0.25)), 6).as("p25"),
      round(percentile(col(valueCol), lit(0.5)), 6).as("p50"),
      round(percentile(col(valueCol), lit(0.75)), 6).as("p75"),
      count(lit(1)).as("n_sample"))

  /** Persist a quantile summary at `path` (epoch 0, the
    * [[graft.sources.EpochStore]] layout — every crash window leaves a
    * loadable artifact).
    */
  def writeQuantile(
      df: DataFrame, idCol: String, valueCol: String, groupCol: String,
      path: String, k: Int = 256): Unit = {
    require(k > 0, "k must be positive")
    EpochStore.build(df.sparkSession, path,
      quantileSummaryBy(df, idCol, valueCol, groupCol, k),
      Map("id_col" -> idCol, "value_col" -> valueCol,
        "group_col" -> groupCol, "k" -> k))
  }

  /** A loaded quantile summary: the sample rows plus the maintained
    * per-group size.
    */
  final case class LoadedQuantile(rows: DataFrame, k: Int)

  def loadQuantile(spark: SparkSession, path: String): LoadedQuantile = {
    val (m, rows) = EpochStore.load(spark, path)
    LoadedQuantile(rows, m("k").toInt)
  }

  /** Fold a batch into the persisted summary: per-group bottom-k of the
    * BATCH only, unioned with the stored rows and re-selected — ≤
    * (groups·k + batch's own summary) rows of merge work, history never
    * rescanned. Ids already present take arrival-order priority (the
    * anti-join), so replaying a batch is a no-op and streaming
    * ingestion ([[quantileIngestStream]]) needs no marker protocol.
    * Initializes an EMPTY `path` (only then does `k` apply — an
    * existing artifact's own meta governs, the sample-index
    * convention); id/value/group column mismatches fail loudly.
    */
  def appendQuantile(
      batch: DataFrame, idCol: String, valueCol: String, groupCol: String,
      path: String, k: Int = 256): Unit = {
    val spark = batch.sparkSession
    EpochStore.append(spark, path, check = m => {
      val (idc, vc, gc) = (m("id_col"), m("value_col"), m("group_col"))
      require(idc == idCol && vc == valueCol && gc == groupCol,
        s"quantile summary at $path keys on ($idc, $vc, $gc), " +
          s"not ($idCol, $valueCol, $groupCol)")
    })(_ => writeQuantile(batch, idCol, valueCol, groupCol, path, k)) {
      (m, stored) =>
        val kk = m("k").toInt
        // replay guard keys on (group, id) — NULL-SAFE on the group, like
        // every grouped path here — not id alone: an id can legitimately
        // recur across groups (ids unique only per group), and an id-only
        // anti-join would silently drop the second group's row from the
        // sample, breaking the merge law
        val fresh = batch.join(
          broadcast(stored.select(col(groupCol).as("__ag"),
            col(idCol).as("__ai"))),
          col(groupCol) <=> col("__ag") && col(idCol) === col("__ai"),
          "left_anti")
        quantileSummaryBy(
          stored.drop("sample_rank")
            .unionByName(quantileSummaryBy(fresh, idCol, valueCol,
              groupCol, kk).drop("sample_rank")),
          idCol, valueCol, groupCol, kk).localCheckpoint()
    }
  }

  /** Streaming ingestion: per micro-batch [[appendQuantile]] —
    * replay-safe without markers (a replayed batch anti-joins away).
    * Caller starts the returned writer.
    */
  def quantileIngestStream(
      stream: DataFrame,
      idCol: String,
      valueCol: String,
      groupCol: String,
      path: String,
      k: Int = 256): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        appendQuantile(batch.toDF(), idCol, valueCol, groupCol, path, k)
    }

  // ------------------------------------------------------------------
  // Deterministic KLL/MRL compactor quantile sketch
  // ------------------------------------------------------------------
  //
  // The GUARANTEED-error sibling of the bottom-k sample leg above: a
  // fixed-capacity compactor cascade in the MRL/KLL family (Manku,
  // Rajagopalan & Lindsay 1998; Karnin, Lang & Liberty 2016),
  // DERANDOMIZED — every compaction of a full level-h buffer (capacity
  // k, k a power of two) sorts it and keeps the EVEN 0-based
  // positions, pushing them to level h+1 at doubled weight. Feeding a
  // group's values in sorted order makes the cascade a pure binary
  // counter, and its final state has a CLOSED FORM over the sorted
  // ranks: with n values, C = n div k full chunks and r = n mod k,
  //
  //   - ranks in [C·k, n) survive raw at level 0 (weight 1);
  //   - for each set bit h of C, the chunk range starting at offset
  //     o = (C with bits <= h cleared) holds 2^h chunks whose ranks at
  //     stride 2^(h+1) from o·k survive at level h+1 (weight 2^(h+1)),
  //
  // because a completed level-h compaction always covers 2^h
  // consecutive aligned chunks at stride 2^(h+1), and the buffer
  // occupancy after C chunks is exactly C's binary representation.
  // That closed form is what makes this sketch BOTH Spark-shaped (one
  // per-group rank window + an arithmetic filter — no sequential
  // state) and engine-replayable (a SQL oracle recomputes the same
  // arithmetic), where a run-the-cascade implementation would be
  // neither.
  //
  // Deterministic worst-case rank error of a one-shot build: each
  // compaction at level h displaces any rank by < 2^h, and level h
  // compacts C/2^h times, so |est - true| < C·(floor(log2 C) + 1) =
  // (n/k)·(floor(log2(n/k)) + 1) — the classic fixed-capacity MRL
  // bound, eps = (log2(n/k)+1)/k. Merging adds the inputs' errors
  // plus one compaction pass's (weights enter the SAME closed form as
  // expanded runs), so per-epoch sketches folded into a standing
  // artifact degrade linearly in epochs, never multiplicatively. The
  // `sketch_kll` property spec checks the bound empirically.
  //
  // Scale shape: one exchange on the group key + a per-group sort
  // window (parallel across groups, like every grouped quantile here);
  // a single monster group can be pre-split by a deterministic id-hash
  // salt and the sub-sketches merged — the merge law makes that a
  // legitimate sketch of the group, still fully deterministic.

  /** The sketch row weight `2^level` as a column (exact: dividing /
    * multiplying by powers of two is exact double arithmetic well past
    * any reachable level).
    */
  private def kllPow2(h: Column): Column =
    pow(lit(2.0), h.cast("double")).cast("long")

  private def kllFloorDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  private def checkKllK(k: Int): Unit =
    require(k >= 2 && (k & (k - 1)) == 0,
      s"k must be a power of two >= 2, got $k")

  /** The per-group compaction ranges of a weighted row set totalling
    * `__n` positions: one row per set bit of C = __n div k (stride
    * 2^(h+1), level h+1) plus the raw tail (stride 1, level 0).
    * Input `(groupCol, __n)`; output `(groupCol, start, len, stride,
    * lvl)` in GLOBAL 0-based weighted-rank positions.
    */
  private def kllRangesBy(
      totals: DataFrame, groupCols: Seq[String], k: Int): DataFrame = {
    val g = totals
      .withColumn("__C", kllFloorDiv(col("__n"), lit(k.toLong)))
      .withColumn("__r", pmod(col("__n"), lit(k.toLong)))
    val bitRanges = transform(sequence(lit(0L), lit(40L)), h => {
      val ph = kllPow2(h)
      val ph1 = kllPow2(h + 1)
      struct(
        (kllFloorDiv(col("__C"), ph1) * ph1 * k).as("start"),
        (ph * k).as("len"),
        ph1.as("stride"),
        (h + 1).cast("int").as("lvl"),
        pmod(kllFloorDiv(col("__C"), ph), lit(2L)).as("__bit"))
    })
    val tail = array(struct(
      (col("__C") * k).as("start"), col("__r").as("len"),
      lit(1L).as("stride"), lit(0).as("lvl"), lit(1L).as("__bit")))
    g.select(groupCols.map(col) :+
        explode(concat(
          filter(bitRanges, r => r.getField("__bit") === 1L),
          filter(tail, _ => col("__r") > 0))).as("__range"): _*)
      .select(groupCols.map(col) ++ Seq(
        col("__range.start").as("start"), col("__range.len").as("len"),
        col("__range.stride").as("stride"),
        col("__range.lvl").as("lvl")): _*)
  }

  /** THE core: compact weighted sketch rows `(groupCol, level, value)`
    * (weight 2^level each) to the canonical capacity-`k` sketch of the
    * expanded multiset. Raw data IS the level-0 case, and merging IS
    * compacting a union — build, merge, and epoch-fold all run through
    * this one function, which is what makes the merge law hold by
    * construction. Output rows `(groupCol, level, value)`, possibly
    * with repeats (a heavy row can survive at several stride points —
    * at most k/2 per range, so output stays O(k·log) per group).
    */
  def kllCompactBy(
      rows: DataFrame, groupCol: String, k: Int): DataFrame =
    kllCompactByCols(rows, Seq(groupCol), k)

  private def kllCompactByCols(
      rows: DataFrame, groupCols: Seq[String], k: Int): DataFrame = {
    checkKllK(k)
    val win = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("value"), col("level"))
    val positioned = rows.select(groupCols.map(col) ++
        Seq(col("level"), col("value")): _*)
      .withColumn("__wt", kllPow2(col("level")))
      .withColumn("__cumw", coalesce(sum(col("__wt"))
        .over(win.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val totals = rows.groupBy(groupCols.map(col): _*)
      .agg(sum(kllPow2(col("level"))).as("__n"))
    val ranges = groupCols.foldLeft(
      kllRangesBy(totals, groupCols, k)) { (d, c) =>
        d.withColumnRenamed(c, s"__rg_$c") }
    val joinCond = groupCols.map(c => col(c) <=> col(s"__rg_$c"))
      .reduce(_ && _)
    positioned
      .join(ranges, joinCond) // null group is real
      .filter(col("__cumw") < col("start") + col("len") &&
        col("__cumw") + col("__wt") > col("start"))
      // first stride point >= max(row start, range start), aligned to
      // the RANGE start (ceil-div in exact integer arithmetic)
      .withColumn("__d", greatest(col("__cumw"), col("start")) - col("start"))
      .withColumn("__first", col("start") +
        kllFloorDiv(col("__d") + col("stride") - 1, col("stride")) *
          col("stride"))
      .withColumn("__end",
        least(col("__cumw") + col("__wt"), col("start") + col("len")))
      .filter(col("__first") < col("__end"))
      .withColumn("__last", col("__first") +
        kllFloorDiv(col("__end") - 1 - col("__first"), col("stride")) *
          col("stride"))
      .select(groupCols.map(col) ++ Seq(
        col("lvl").as("level"), col("value"),
        explode(sequence(col("__first"), col("__last"), col("stride")))
          .as("__p")): _*)
      .drop("__p")
  }

  /** Monster-group scale path: a single group too large for one sort
    * partition is pre-split by a DETERMINISTIC id-hash salt, each
    * (group, salt) sub-stream sketched by the closed form in parallel,
    * and the sub-sketches folded with ONE weighted compact per group.
    * The merge law makes the result a legitimate capacity-k sketch of
    * the group (error = one extra compaction pass on top of the
    * shards' own bounds), and determinism survives because salt
    * membership is a pure function of the id — the same two-stage
    * arithmetic a SQL oracle replays.
    */
  def kllSketchSharded(
      df: DataFrame, idCol: String, valueCol: String, groupCol: String,
      k: Int = 256, shards: Int = 16): DataFrame = {
    checkKllK(k)
    require(shards >= 1, "shards must be positive")
    val salted = df.select(col(groupCol),
      pmod(hash60(col(idCol).cast("string")), lit(shards.toLong))
        .as("__salt"),
      lit(0).as("level"), col(valueCol).as("value"))
    kllCompactByCols(
      kllCompactByCols(salted, Seq(groupCol, "__salt"), k)
        .drop("__salt"),
      Seq(groupCol), k)
  }

  /** Build the canonical sketch of a raw column per group: the level-0
    * special case of [[kllCompactBy]] (every input row weight 1).
    */
  def kllSketchBy(
      df: DataFrame, valueCol: String, groupCol: String,
      k: Int = 256): DataFrame =
    kllCompactBy(
      df.select(col(groupCol), lit(0).as("level"),
        col(valueCol).as("value")),
      groupCol, k)

  /** GLOBAL (ungrouped) sketch of a column — the whole-corpus case,
    * which is always a monster group: routed through the sharded build
    * so no single sort partition ever sees more than ~1/shards of the
    * corpus. Output `(level, value)`.
    */
  def kllSketch(
      df: DataFrame, idCol: String, valueCol: String,
      k: Int = 256, shards: Int = 16): DataFrame =
    kllSketchSharded(
      df.select(lit(0).as("__g"), col(idCol), col(valueCol)),
      idCol, valueCol, "__g", k, shards)
      .drop("__g")

  /** Deterministic quantile estimates from a sketch: per group, the
    * smallest value whose cumulative weight covers q·n for q in
    * {0.25, 0.5, 0.75} (exact integer comparisons — 4·cumW >= q·4·n),
    * plus the total weight (= the ORIGINAL count, which compaction
    * preserves exactly).
    */
  def kllQuantilesBy(sketch: DataFrame, groupCol: String): DataFrame = {
    val win = Window.partitionBy(col(groupCol))
      .orderBy(col("value"), col("level"))
    val cum = sketch
      .withColumn("__wt", kllPow2(col("level")))
      .withColumn("__cw", sum(col("__wt"))
        .over(win.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__n", sum(col("__wt"))
        .over(Window.partitionBy(col(groupCol))))
    cum.groupBy(col(groupCol)).agg(
      min(when(col("__cw") * 4 >= col("__n"), col("value"))).as("p25"),
      min(when(col("__cw") * 2 >= col("__n"), col("value"))).as("p50"),
      min(when(col("__cw") * 4 >= col("__n") * 3, col("value"))).as("p75"),
      max(col("__n")).as("n_total"))
  }

  /** Adaptive per-group threshold curation — "keep each domain's top
    * half by quality" WITHOUT a hand-chosen value cutoff (the DCLM /
    * CCNet practice of per-group adaptive gates): the cutoff is the
    * group's deterministic-KLL quantile of `valueCol`, so it is
    * computed at BOUNDED state per group (the sharded build keeps
    * monster groups off any single sort partition), broadcast back
    * (≤ |groups| rows — domains/languages, operationally small), and
    * applied as one stateless `>=` filter. Keeps rows with
    * `valueCol >= quantile(group)`; the estimate is the sketch's (rank
    * error per the MRL bound), which is the point — an EXACT per-group
    * quantile would sort the corpus.
    *
    * Rows whose group is NULL are dropped (inner join semantics, same
    * as the oracle's `JOIN USING`) — route null groups through a
    * sentinel upstream if they must survive.
    */
  def filterAboveQuantileBy(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      groupCol: String,
      quantile: String = "p50",
      k: Int = 256,
      shards: Int = 16): DataFrame = {
    require(Set("p25", "p50", "p75")(quantile),
      s"quantile must be p25|p50|p75, got $quantile")
    val cut = kllQuantilesBy(
        kllSketchSharded(df, idCol, valueCol, groupCol, k, shards),
        groupCol)
      .select(col(groupCol), col(quantile).as("__cut"))
    df.join(broadcast(cut), Seq(groupCol))
      .filter(col(valueCol) >= col("__cut")).drop("__cut")
  }

  /** Persist a KLL sketch artifact (epoch layout, meta-gated). */
  def writeKll(
      df: DataFrame, valueCol: String, groupCol: String, path: String,
      k: Int = 256, lastBatchId: Long = -1L): Unit = {
    checkKllK(k)
    EpochStore.build(df.sparkSession, path,
      kllSketchBy(df, valueCol, groupCol, k),
      Map("value_col" -> valueCol, "group_col" -> groupCol, "k" -> k),
      lastBatchId)
  }

  final case class LoadedKll(rows: DataFrame, k: Int)

  def loadKll(spark: SparkSession, path: String): LoadedKll = {
    val (m, rows) = EpochStore.load(spark, path)
    LoadedKll(rows, m("k").toInt)
  }

  /** Fold a batch into the persisted sketch: sketch the batch, union
    * with the stored rows, compact — O(batch + groups·k·log) work,
    * history never rescanned. Unlike the bottom-k leg there is no id
    * to anti-join replays away on, so streaming ingestion runs the
    * batch-id cursor protocol ([[ingestKllBatch]], the
    * [[ingestCmsBatch]] pattern); a replayed BATCH call double-counts,
    * exactly as [[appendCms]] documents.
    */
  def appendKll(
      batch: DataFrame, valueCol: String, groupCol: String, path: String,
      k: Int = 256): Unit =
    absorbKll(batch, valueCol, groupCol, path, None, k)

  /** The shared append of [[appendKll]] and [[ingestKllBatch]]: the
    * key columns are checked before the cursor, so a mismatched replay
    * still fails loud.
    */
  private def absorbKll(
      batch: DataFrame, valueCol: String, groupCol: String, path: String,
      batchId: Option[Long], k: Int): Unit = {
    val spark = batch.sparkSession
    EpochStore.append(spark, path, batchId, "KLL sketch", m => {
      val (vc, gc) = (m("value_col"), m("group_col"))
      require(vc == valueCol && gc == groupCol,
        s"KLL sketch at $path keys on ($vc, $gc), not ($valueCol, $groupCol)")
    })(cursor => writeKll(batch, valueCol, groupCol, path, k, cursor)) {
      (m, stored) =>
        val kk = m("k").toInt
        kllCompactBy(
          stored.unionByName(kllSketchBy(batch, valueCol, groupCol, kk)),
          groupCol, kk).localCheckpoint()
    }
  }

  /** Absorb ONE stream micro-batch exactly-once under the committed
    * `last_batch_id` cursor — same crash-window analysis as
    * [[ingestCmsBatch]] (the cursor rides the meta, so the atomic
    * epoch flip commits both).
    */
  def ingestKllBatch(
      df: DataFrame, valueCol: String, groupCol: String, path: String,
      batchId: Long, k: Int = 256): Unit =
    absorbKll(df, valueCol, groupCol, path, Some(batchId), k)

  /** Streaming KLL ingestion — [[ingestKllBatch]] per micro-batch.
    * Caller starts the returned writer with a durable checkpoint.
    */
  def kllIngestStream(
      stream: DataFrame,
      valueCol: String,
      groupCol: String,
      path: String,
      k: Int = 256): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ingestKllBatch(batch.toDF(), valueCol, groupCol, path, batchId, k)
    }

  /** Equal-width bin counts of `valueCol` in two corpus snapshots —
    * the shared substrate for drift monitoring between releases (did
    * the length / quality-score / entropy distribution move?). Values
    * outside [lo, hi) clamp into the edge bins so the report is total.
    *
    * Scale shape: ONE partial-aggregable groupBy per snapshot (the bin
    * id is a pure arithmetic expression, so the map-side combine
    * reduces each partition to ≤ nBins rows before the exchange); the
    * spine join runs on nBins rows. Bin counts are plain counters, so
    * snapshot bins are mergeable across batches like every other
    * sketch in this file.
    */
  /** Single-snapshot bin counts: (bin, cnt) with EVERY bin present
    * (zeros included) — the mergeable unit ([[driftBins]] is two of
    * these joined; the persisted artifact stores one and counter-wise
    * sum telescopes across ingested batches).
    */
  def binCounts(
      df: DataFrame,
      valueCol: String,
      nBins: Int,
      lo: Double,
      hi: Double): DataFrame = {
    require(nBins >= 2, "need at least 2 bins")
    require(hi > lo, s"hi $hi must exceed lo $lo")
    val w = (hi - lo) / nBins
    val counted = df.filter(col(valueCol).isNotNull)
      .select(least(greatest(floor((col(valueCol) - lo) / w), lit(0.0)),
        lit(nBins - 1.0)).cast("int").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    df.sparkSession.range(0, nBins)
      .select(col("id").cast("int").as("bin"))
      .join(counted, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  def driftBins(
      a: DataFrame,
      b: DataFrame,
      valueCol: String,
      nBins: Int = 20,
      lo: Double = 0.0,
      hi: Double = 1.0): DataFrame =
    binCounts(a, valueCol, nBins, lo, hi)
      .withColumnRenamed("cnt", "cnt_a")
      .join(binCounts(b, valueCol, nBins, lo, hi)
        .withColumnRenamed("cnt", "cnt_b"), Seq("bin"))

  /** Distribution drift between two snapshots: Population Stability
    * Index over Laplace-smoothed bin shares (the credit-scoring /
    * ML-monitoring standard — PSI < 0.1 stable, > 0.25 shifted) plus
    * the two-sample Kolmogorov–Smirnov statistic from the binned CDFs.
    * Output: one row (psi, ks, n_a, n_b), both statistics rounded to 6
    * (engine-stable across summation orders).
    *
    * The windowed stage runs on the nBins-row AGGREGATE output, not
    * the corpus — a single-partition window over ≤ nBins rows is the
    * point, not a bottleneck (the heavy lifting happened in
    * [[driftBins]]' map-side combines).
    */
  /** Per-group [[driftBins]]: one bin table per group value (e.g. per
    * language, per source domain). The group key is null-safed through
    * a collision-free (isNull, value) struct internally — a null group
    * is a REAL group (the exact-groupBy contract), not a dropped one —
    * and surfaces as the original null. Spine = distinct groups × nBins
    * via an exploded
    * sequence (no cross join); everything else is the ungrouped shape
    * with the group key prepended to each aggregate/join key.
    */
  def driftBinsBy(
      a: DataFrame,
      b: DataFrame,
      valueCol: String,
      groupCol: String,
      nBins: Int = 20,
      lo: Double = 0.0,
      hi: Double = 1.0): DataFrame = {
    require(nBins >= 2, "need at least 2 bins")
    require(hi > lo, s"hi $hi must exceed lo $lo")
    val w = (hi - lo) / nBins
    def keyed(df: DataFrame) = df
      .filter(col(valueCol).isNotNull)
      .select(
        groupKey(col(groupCol).cast("string")).as("__gk"),
        col(groupCol).cast("string").as("group"),
        least(greatest(floor((col(valueCol) - lo) / w), lit(0.0)),
          lit(nBins - 1.0)).cast("int").as("bin"))
    def binned(df: DataFrame, out: String) = keyed(df)
      .groupBy("__gk", "bin").agg(count(lit(1)).as(out))
    val spine = keyed(a).unionByName(keyed(b))
      .select(col("__gk"), col("group")).distinct()
      .select(col("__gk"), col("group"),
        explode(sequence(lit(0), lit(nBins - 1))).as("bin"))
    spine
      .join(binned(a, "cnt_a"), Seq("__gk", "bin"), "left")
      .join(binned(b, "cnt_b"), Seq("__gk", "bin"), "left")
      .select(col("group"), col("bin"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
  }

  /** Collision-free null-safe group join key: a (isNull, value) struct
    * — no sentinel string a real group could equal (structs equi-join
    * and window-partition natively).
    */
  private def groupKey(g: Column): Column =
    struct(g.isNull.as("n"), coalesce(g, lit("")).as("v"))

  /** Per-group [[distributionDrift]]: (group, psi, ks, n_a, n_b), one
    * row per group — "which language moved between releases". Windows
    * partition by group over the bins table (group cardinality × nBins
    * rows total), so the whole statistic stage is aggregate-sized.
    */
  def distributionDriftBy(
      a: DataFrame,
      b: DataFrame,
      valueCol: String,
      groupCol: String,
      nBins: Int = 20,
      lo: Double = 0.0,
      hi: Double = 1.0): DataFrame = {
    driftAnnotated(
        driftBinsBy(a, b, valueCol, groupCol, nBins, lo, hi), nBins,
        groupKey(col("group")))
      .groupBy(col("group"))
      .agg(driftAggs.head, driftAggs.tail: _*)
  }

  // -- the PSI/KS statistic stage, ONE definition for every drift form
  //    (two-DataFrame, grouped, artifact-backed): windows partitioned
  //    by `part`, then the shared aggregate list ------------------------

  private def driftAnnotated(
      bins: DataFrame, nBins: Int, part: Column): DataFrame = {
    val all = Window.partitionBy(part)
    val cum = all.orderBy(col("bin"))
    bins
      .withColumn("__na", sum(col("cnt_a")).over(all))
      .withColumn("__nb", sum(col("cnt_b")).over(all))
      .withColumn("__pa",
        (col("cnt_a") + 0.5) / (col("__na") + 0.5 * nBins))
      .withColumn("__pb",
        (col("cnt_b") + 0.5) / (col("__nb") + 0.5 * nBins))
      .withColumn("__gap", abs(
        sum(col("cnt_a")).over(cum) / col("__na") -
        sum(col("cnt_b")).over(cum) / col("__nb")))
  }

  private def driftAggs: Seq[Column] = Seq(
    round(sum((col("__pa") - col("__pb")) *
      log(col("__pa") / col("__pb"))), 6).as("psi"),
    round(max(col("__gap")), 6).as("ks"),
    max(col("__na")).as("n_a"),
    max(col("__nb")).as("n_b"))

  private def driftStats(bins: DataFrame, nBins: Int): DataFrame =
    driftAnnotated(bins, nBins, lit(1))
      .agg(driftAggs.head, driftAggs.tail: _*)

  def distributionDrift(
      a: DataFrame,
      b: DataFrame,
      valueCol: String,
      nBins: Int = 20,
      lo: Double = 0.0,
      hi: Double = 1.0): DataFrame =
    driftStats(driftBins(a, b, valueCol, nBins, lo, hi), nBins)

  // ------------------------------------------------------------------
  // Persisted bin-count artifact — drift monitoring at ingest: absorb
  // each micro-batch's bin counters into an epoch artifact (counters
  // telescope under sum), then score drift against any baseline
  // without rescanning the stream's history
  // ------------------------------------------------------------------

  /** A loaded bin artifact: counts plus the binning they were built
    * under.
    */
  final case class LoadedBins(
      bins: DataFrame, nBins: Int, lo: Double, hi: Double)

  /** Write a fresh bin artifact of `valueCol` over `df` (epoch 0). */
  def writeBins(
      df: DataFrame, valueCol: String, path: String,
      nBins: Int = 20, lo: Double = 0.0, hi: Double = 1.0,
      lastBatchId: Long = -1L): Unit =
    EpochStore.build(df.sparkSession, path,
      binCounts(df, valueCol, nBins, lo, hi),
      Map("n_bins" -> nBins, "lo" -> lo, "hi" -> hi), lastBatchId)

  /** Load the live epoch's bin counts. Fails if no committed meta. */
  def loadBins(spark: SparkSession, path: String): LoadedBins = {
    val (m, bins) = EpochStore.load(spark, path)
    LoadedBins(bins, m("n_bins").toInt, m("lo").toDouble, m("hi").toDouble)
  }

  /** Absorb ONE stream micro-batch into the persisted bin counters,
    * exactly-once under the committed `last_batch_id` cursor — the
    * [[ingestCmsBatch]] contract verbatim: a replayed batch no-ops, a
    * batch id below the cursor means a lost/reset checkpoint and fails
    * loud, and every crash window leaves a loadable artifact (the
    * epoch-store property). Binning parameters are read from the
    * committed meta after initialization — the stream cannot drift out
    * of its own bin space.
    */
  def ingestBinsBatch(
      df: DataFrame, valueCol: String, path: String, batchId: Long,
      nBins: Int = 20, lo: Double = 0.0, hi: Double = 1.0): Unit = {
    val spark = df.sparkSession
    EpochStore.append(spark, path, Some(batchId), "bin sketch")(cursor =>
      writeBins(df, valueCol, path, nBins, lo, hi, cursor)) { (m, stored) =>
      stored.unionByName(binCounts(df, valueCol, m("n_bins").toInt,
          m("lo").toDouble, m("hi").toDouble))
        .groupBy("bin").agg(sum(col("cnt")).as("cnt")).localCheckpoint()
    }
  }

  /** Streaming bin ingestion — [[ingestBinsBatch]] per micro-batch.
    * Caller starts the returned writer with a durable checkpoint.
    */
  def binsIngestStream(
      stream: DataFrame,
      valueCol: String,
      path: String,
      nBins: Int = 20,
      lo: Double = 0.0,
      hi: Double = 1.0): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ingestBinsBatch(batch.toDF(), valueCol, path, batchId, nBins, lo, hi)
    }

  /** Drift of the STREAM-ACCUMULATED snapshot (the artifact — side B)
    * against a baseline DataFrame (side A), binned under the
    * artifact's own committed parameters. Counter telescoping makes
    * this equal the batch [[distributionDrift]] over the same data,
    * however the stream was micro-batched.
    */
  def driftVsBins(
      baseline: DataFrame, valueCol: String, path: String): DataFrame = {
    val lb = loadBins(baseline.sparkSession, path)
    driftStats(
      binCounts(baseline, valueCol, lb.nBins, lb.lo, lb.hi)
        .withColumnRenamed("cnt", "cnt_a")
        .join(lb.bins.select(col("bin"), col("cnt").as("cnt_b")),
          Seq("bin")),
      lb.nBins)
  }
}
