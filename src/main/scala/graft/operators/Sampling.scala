package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.hash60
import graft.sources.EpochStore

/** Deterministic sampling and split assignment for training-data mixing.
  * Not part of the reference surface — a north-star extension every
  * large-scale pipeline needs: corpus mixing ratios (per-source / per-lang
  * quotas) and reproducible train/val/test splits.
  *
  * All decisions are pure functions of a row's id (`hash60(md5)` range
  * tests), never of `rand()`: re-running the pipeline, re-trying a task,
  * or adding columns cannot change membership, and any engine reproduces
  * the same sample (the properties that make sampling auditable at
  * 100 TB). Every operator is a stateless filter/projection — no shuffle,
  * no state, fully pipelined into the scan.
  */
object Sampling {

  private val Scale = 1000000L

  /** id → uniform bucket in [0, 1e6): the shared hash-range primitive. */
  private def hashBucket(idCol: Column): Column =
    pmod(hash60(idCol.cast("string")), lit(Scale))

  /** Uniform deterministic sample: keep `fraction` of rows by id-hash
    * range. Same contract as `df.sample` but reproducible and
    * content-addressed (a row's membership never changes across runs or
    * engines).
    */
  def hashSample(df: DataFrame, idCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    // round, don't truncate: 0.3*1e6 is 299999.99999999994 in doubles —
    // toLong would systematically under-sample by one bucket
    df.filter(hashBucket(col(idCol)) < lit(math.round(fraction * Scale)))
  }

  /** Stratified deterministic sample: per-stratum keep fractions (the
    * corpus-mixing quota map, e.g. lang -> fraction), `defaultFraction`
    * for unlisted strata. One pipelined filter — the per-stratum
    * fraction is a CASE over the stratum column, the keep decision the
    * same id-hash range test as [[hashSample]].
    */
  def stratifiedHashSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0): DataFrame = {
    require((fractions.values ++ Seq(defaultFraction)).forall(f => f >= 0 && f <= 1),
      "fractions must be in [0,1]")
    val threshold = fractions.foldLeft(
      lit(math.round(defaultFraction * Scale))) { case (acc, (k, f)) =>
      when(col(strataCol) === lit(k), lit(math.round(f * Scale))).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol)) < threshold)
  }

  /** Deterministic split assignment: append a `split` column mapping each
    * row to one of the named `splits` by cumulative id-hash range (e.g.
    * `Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)`). Weights must
    * sum to 1 (±1e-9). Every engine and every run assigns the same row
    * to the same split.
    */
  def assignSplit(
      df: DataFrame,
      idCol: String,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "at least one split")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split weights must sum to 1")
    val bucket = hashBucket(col(idCol))
    val cuts = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w }.tail
    // last split catches the remainder so rounding never drops a row
    val expr = splits.init.zip(cuts.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), cut), acc) =>
      when(bucket < lit(math.round(cut * Scale)), lit(name)).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Leakage-safe split: near-duplicate CLUSTER members land in the
    * same split, so a test doc can never be a paraphrase of a train
    * doc — the eval-contamination failure mode a per-doc hash split
    * ([[assignSplit]]) cannot prevent (GroupShuffleSplit semantics,
    * with the dedup pair graph as the grouping). Every doc gets its
    * component root ([[Dedup.connectedComponents]] over `pairs` —
    * min reachable id; docs with no near-dup edge root at themselves)
    * and the split is assigned by hashing the ROOT, making membership
    * a pure function of the cluster.
    *
    * Scale shape: the pair graph holds only near-duplicates (orders of
    * magnitude under the corpus), so the component table is small —
    * the join back to the corpus is broadcast-able in practice and
    * AQE converts it; everything else is [[assignSplit]]'s stateless
    * column expression. Split FRACTIONS are now cluster-weighted
    * (a 60-copy family moves as one unit) — that is the point, and
    * the law of large numbers restores the ratios at corpus scale.
    *
    * Output: `df`'s columns plus `root` and `split`.
    */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      splits: Seq[(String, Double)]): DataFrame = {
    val comp = Dedup.connectedComponents(pairs)
      .select(col("id").as("__cid"), col("component"))
    val rooted = df.join(comp, col(idCol) === col("__cid"), "left")
      .withColumn("root", coalesce(col("component"), col(idCol)))
      .drop("__cid", "component")
    assignSplit(rooted, "root", splits)
  }

  /** Deterministic EXACT-SIZE sample per stratum: the `n` rows with the
    * smallest id-hash in each stratum — fraction samplers
    * ([[hashSample]]/[[stratifiedHashSample]]) give binomially-varying
    * sizes, but eval sets, few-shot pools, and inspection samples need
    * exactly-n. Implemented as [[TopK.topKPerKey]] over the NEGATED
    * 60-bit id hash (its bounded-heap Aggregator partial-aggregates
    * map-side), so the per-stratum selection never window-sorts a hot
    * stratum — a whole-corpus "rest" stratum reduces to ≤ n entries per
    * map task before the exchange. Same determinism contract as every
    * sampler here: membership is a pure function of the id.
    */
  def sampleExactPerStratum(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      n: Int): DataFrame = {
    // Arbitrary id types: the id is folded to its 60-bit string-hash
    // surrogate before the top-k aggregate — the sibling samplers hash
    // the id as a string too, and [[TopKAggregator]]'s long field can't
    // hold a non-numeric id (a string id cast to long was a runtime
    // null failure, r8 advice). Duplicate (stratum, id) rows collapse to
    // ONE sample member first — without the dedup they would both eat
    // heap slots and multiply through the recovery join. Original id
    // values are recovered by a broadcast join on (stratum, surrogate) —
    // the top side is ≤ n rows per stratum, so the join is map-side; the
    // stratum equality is NULL-SAFE, so a null stratum is a real group
    // (as groupBy treats it) rather than silently dropped. Two DISTINCT
    // ids colliding on the 60-bit surrogate inside one stratum
    // (p ≈ pairs/2^61) collapse at the dropDuplicates below: one of the
    // two is arbitrarily kept and the other never reaches the sample —
    // an accepted bias at that probability, not a duplicate-rank
    // emission.
    val keyed = df.select(col(strataCol), col(idCol))
      .withColumn("__sid", hash60(col(idCol).cast("string")))
      .dropDuplicates(strataCol, "__sid")
    // mod 2^52 keeps the order key exactly representable as the
    // Aggregator's double (raw 60-bit hashes would alias above 2^53 and
    // could tie-break differently than an engine ordering the longs);
    // ties fall back to the full surrogate, ascending
    val hashed = keyed.withColumn("__neg_hash",
      -pmod(col("__sid"), lit(1L << 52)).cast("double"))
    val top = TopK.topKPerKey(hashed, Seq(strataCol), "__neg_hash", "__sid", n)
      .select(col(strataCol).as("__ts"), col("__sid"), col("rk"))
    keyed.join(broadcast(top),
        col(strataCol) <=> col("__ts") && keyed("__sid") === top("__sid"))
      .select(col(strataCol), col(idCol), col("rk").as("sample_rank"))
  }

  /** Cluster-balanced exact-size sampling — the embedding-space
    * diversity sampler (the SemDeDup/DataComp curation practice,
    * Abbas et al. 2023 §4: balance the kept mix across SEMANTIC
    * clusters rather than uniformly over documents, so a few head
    * topics cannot drown the tail the model most needs): each vector
    * is assigned to its nearest centroid
    * ([[Similarity.ivfAssign]]'s audited broadcast-centroids shape —
    * round-6 cosine, centroid-id tie-break), then
    * [[sampleExactPerStratum]] keeps exactly the `n` smallest-id-hash
    * members per cluster. Output `(centroid_id, id, sample_rank)`.
    *
    * Deterministic end-to-end (centroid choice and membership are pure
    * functions of vector and id), and scale-shaped like its two
    * parents: assignment is a broadcast fan-out + per-id window,
    * selection a bounded-heap aggregate that reduces a HOT cluster to
    * ≤ n entries per map task before the exchange — a viral semantic
    * cluster costs its share of the assignment pass, never a skewed
    * sort.
    */
  def clusterBalancedSample(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      n: Int): DataFrame = {
    val assigned = Similarity.ivfAssign(vecs, idCol, vecCol, centroids)
      .select(col(idCol), col("centroid_id"))
    sampleExactPerStratum(assigned, idCol, "centroid_id", n)
  }

  // ------------------------------------------------------------------
  // Bottom-k uniform sample + persisted sample index
  // ------------------------------------------------------------------

  /** Global deterministic bottom-k sample: the `k` rows with the
    * smallest 60-bit id-hash — a uniform k-subset without replacement
    * (the bottom-k sketch of Cohen & Kaplan 2007), selected by the
    * constant-stratum [[sampleExactPerStratum]] bounded heap (map-side
    * partial, no global sort) with payload columns recovered through a
    * broadcast join-back (≤ k rows). `idCol` must be unique per row —
    * a duplicated id would multiply through the join-back. Output: the
    * input columns plus `sample_rank`.
    */
  def bottomKSample(df: DataFrame, idCol: String, k: Int): DataFrame = {
    val sel = sampleExactPerStratum(
      df.select(col(idCol)).withColumn("__g", lit(0)), idCol, "__g", k)
      .select(col(idCol), col("sample_rank"))
    df.join(broadcast(sel), Seq(idCol))
  }

  /** A loaded sample index: the sample rows (payload + `sample_rank`)
    * plus the size it maintains.
    */
  final case class LoadedSample(rows: DataFrame, k: Int)

  /** Persist a bottom-k sample of `df` at `path` (epoch 0) — the
    * always-fresh inspection/eval sample over a GROWING corpus: because
    * membership is pure hash order, bottom-k(A ∪ B) =
    * bottom-k(bottom-k(A) ∪ bottom-k(B)), so [[appendSampleIndex]]
    * folds each new crawl batch in at O(batch + k) and the loaded rows
    * are at every moment EXACTLY the sample a from-scratch pass over
    * the whole history would draw — no reservoir drift, no rescan. Uses
    * the [[graft.sources.EpochStore]] layout (every crash window leaves
    * a loadable index).
    */
  def writeSampleIndex(
      df: DataFrame, idCol: String, path: String, k: Int): Unit = {
    require(k > 0, "k must be positive")
    EpochStore.build(df.sparkSession, path, bottomKSample(df, idCol, k),
      Map("id_col" -> idCol, "k" -> k))
  }

  /** Load the live epoch's sample rows. Fails if nothing committed. */
  def loadSampleIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): LoadedSample = {
    val (m, rows) = EpochStore.load(spark, path)
    LoadedSample(rows, m("k").toInt)
  }

  /** Fold a new batch into the persisted sample: bottom-k of the batch
    * (one bounded pass over the BATCH only), unioned with the stored
    * rows and re-selected — ≤ 2k rows of merge work; the corpus history
    * is never rescanned. Ids already in the index take priority
    * (arrival order, the [[graft.sources.DedupIndex]] convention), so
    * replaying a batch is a no-op and at-least-once streaming ingestion
    * needs no marker protocol. Initializes the artifact when `path` is
    * EMPTY — and ONLY then does `k` apply; an existing index's own `k`
    * (in its meta, surfaced by [[loadSampleIndex]]) governs every later
    * append, so passing a different `k` here is ignored by design (the
    * `idCol` mismatch, by contrast, is a caller bug and fails loudly).
    * A torn meta flip also fails loudly instead of re-initializing.
    * The batch schema must match the stored payload schema (unionByName
    * fails loudly otherwise).
    */
  def appendSampleIndex(
      batch: DataFrame, idCol: String, path: String, k: Int = 1000): Unit = {
    val spark = batch.sparkSession
    EpochStore.append(spark, path, check = m => {
      val idc = m("id_col")
      require(idc == idCol,
        s"sample index at $path keys on '$idc', not '$idCol'")
    })(_ => writeSampleIndex(batch, idCol, path, k)) { (m, stored) =>
      val kk = m("k").toInt
      val fresh = batch.join(
        broadcast(stored.select(col(idCol))), Seq(idCol), "left_anti")
      bottomKSample(
        stored.drop("sample_rank")
          .unionByName(bottomKSample(fresh, idCol, kk).drop("sample_rank")),
        idCol, kk).localCheckpoint()
    }
  }

  /** Streaming ingestion of the sample index: per micro-batch,
    * [[appendSampleIndex]] — replay-safe without markers (a replayed
    * batch anti-joins away entirely). Caller starts the returned writer.
    */
  def sampleIngestStream(
      stream: DataFrame,
      idCol: String,
      path: String,
      k: Int = 1000): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        appendSampleIndex(batch, idCol, path, k)
    }

  /** Deterministic domain mixing to a token budget — the static
    * data-mixture step of a training-data pipeline (fixed target
    * proportions à la The Pile / Llama mixes; learned-weight schemes
    * like DoReMi plug their output into the same `weights` map): domain
    * `d` keeps `min(1, budget·w_d / tokens_d)` of its rows so the
    * expected sampled token mass is `budget·w_d`, by the same id-hash
    * range test as every sampler here (reproducible across runs,
    * retries, and engines). Weights must sum to 1 (±1e-9, counting
    * `defaultWeight` once per unlisted domain). A domain too small to
    * fill its share keeps everything — the cap surfaces as fraction 1;
    * re-spreading the shortfall (temperature resampling, epoch
    * up-weighting) is caller policy, not plan shape.
    *
    * Two jobs: a partial-aggregable per-domain token count whose result
    * is one row per DOMAIN — collected driver-side (domains number in
    * the tens-to-thousands at any scale; document-scale data never moves)
    * — then one stateless pipelined filter ([[stratifiedHashSample]]).
    */
  def mixToTokenBudget(
      df: DataFrame,
      idCol: String,
      domainCol: String,
      tokenCol: String,
      weights: Map[String, Double],
      budget: Long,
      defaultWeight: Double = 0.0): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 0),
      "weights must be >= 0")
    val totals = df.groupBy(col(domainCol))
      .agg(sum(col(tokenCol)).cast("long").as("__tk"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wsum = totals.keysIterator
      .map(d => weights.getOrElse(d, defaultWeight)).sum
    require(math.abs(wsum - 1.0) < 1e-9,
      s"domain weights must sum to 1 over the observed domains (got $wsum)")
    val fractions = totals.map { case (d, tk) =>
      val w = weights.getOrElse(d, defaultWeight)
      d -> (if (tk <= 0L) 0.0 else math.min(1.0, budget * w / tk))
    }
    stratifiedHashSample(df, idCol, domainCol, fractions)
  }

  /** Deterministic sequence packing — assign every document a position
    * in a fixed-token-budget training sequence (the "packing" step that
    * turns a curated corpus into trainer input, usually done by a
    * sequential writer; here it is a pure function of the corpus so it
    * distributes and reproduces).
    *
    * Layout rule: documents are laid end-to-end in id-hash order inside
    * `nBuckets` independent hash buckets; a document belongs to the pack
    * its FIRST token lands in (`pack_id = start div seqTokens`). This is
    * start-addressed packing: wholly window-expressible (one exclusive
    * cumulative sum per bucket), and each pack's payload is bounded by
    * `seqTokens + (maxDocTokens - 1)` — a document crossing a boundary
    * overflows its pack rather than moving, which is the standard
    * "pack then truncate/continue" trainer contract (exact greedy
    * first-fit is inherently sequential — a per-corpus scan — and
    * cannot be both distributed and deterministic). Documents longer
    * than `seqTokens` keep their start pack; `pack_offset` tells the
    * consumer where inside the pack the document begins.
    *
    * Scale shape: ONE window, partitioned by the hash bucket — the
    * bucket count is the parallelism knob (each bucket sorts corpus/n
    * rows; at real scale set `nBuckets` ≈ cluster cores so per-task
    * sort stays RAM-sized). Membership and order are id-hash functions:
    * re-runs, retries, and engine changes reproduce identical packs.
    *
    * Output: (id, tokenCol, pack_bucket, pack_id, pack_offset) — global
    * pack key = (pack_bucket, pack_id).
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      tokenCol: String,
      seqTokens: Long,
      nBuckets: Int = 32): DataFrame = {
    require(seqTokens > 0, "seqTokens must be positive")
    require(nBuckets > 0, "nBuckets must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("pack_bucket"))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol), col(tokenCol),
        hash60(col(idCol).cast("string")).as("__h"))
      .withColumn("pack_bucket", pmod(col("__h"), lit(nBuckets.toLong)))
      .withColumn("__start",
        coalesce(sum(col(tokenCol)).over(w), lit(0L)))
      .select(col(idCol), col(tokenCol),
        col("pack_bucket"),
        // integer division (SQL `div`), not `/`: Spark's `/` on longs is
        // double division, which loses exactness past 2^53 cumulative
        // tokens — a real corpus-scale number
        expr(s"__start div ${seqTokens}L").as("pack_id"),
        pmod(col("__start"), lit(seqTokens)).as("pack_offset"))
  }

  /** Packing-efficiency report over a [[packSequences]] assignment —
    * the trainer-facing observability row: how many packs the corpus
    * fills, how much of the last pack per bucket is padding (start
    * addressing wastes NOTHING else — every interior pack is 100%
    * full by construction), and how many documents straddle a pack
    * boundary (the attention-masking cost of packed training).
    * Output one row: (n_buckets, n_docs, n_packs, total_tokens,
    * padding_tokens, fill_rate, split_docs).
    *
    * Scale shape: one partial-aggregable groupBy on pack_bucket (the
    * per-bucket totals), then a bucket-count-sized final aggregate.
    */
  def packEfficiency(
      assignments: DataFrame,
      tokenCol: String,
      seqTokens: Long): DataFrame = {
    require(seqTokens > 0, "seqTokens must be positive")
    assignments.groupBy(col("pack_bucket"))
      .agg(sum(col(tokenCol)).as("__t"),
        count(lit(1)).as("__docs"),
        sum(when(col("pack_offset") + col(tokenCol) > seqTokens, 1L)
          .otherwise(0L)).as("__split"))
      .withColumn("__packs",
        expr(s"(__t + ${seqTokens - 1}L) div ${seqTokens}L"))
      .withColumn("__pad",
        when(pmod(col("__t"), lit(seqTokens)) === 0, lit(0L))
          .otherwise(lit(seqTokens) - pmod(col("__t"), lit(seqTokens))))
      .agg(count(lit(1)).as("n_buckets"),
        coalesce(sum(col("__docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("__packs")), lit(0L)).as("n_packs"),
        coalesce(sum(col("__t")), lit(0L)).as("total_tokens"),
        coalesce(sum(col("__pad")), lit(0L)).as("padding_tokens"),
        round(sum(col("__t")) /
          (sum(col("__t")) + sum(col("__pad"))).cast("double"), 6)
          .as("fill_rate"),
        coalesce(sum(col("__split")), lit(0L)).as("split_docs"))
  }

  /** Materialize the packed trainer sequences — the final stage of the
    * corpus→trainer pipeline: [[packSequences]] ASSIGNS each document a
    * start address in its bucket's token stream; this gathers the
    * actual token ids into one row per (pack_bucket, pack_id) of at
    * most `seqTokens` ids, documents SPLIT across pack boundaries
    * exactly as start addressing implies (the defining property of
    * packed pretraining batches — no padding between documents, a doc
    * tail flows into the next sequence).
    *
    * `packed` is [[packSequences]]' output for these documents; `ids`
    * carries `(idCol, idsCol array<int>)` where `size(idsCol)` MUST
    * equal the token count the packing ran on (true by construction
    * when both come from the same BPE family —
    * [[graft.operators.TextAnalysis.tokenIdsBpe]] /
    * `tokenCountsBpe` are spec-pinned equal).
    *
    * Scale shape: the pack-range explode emits `1 + spans` rows per doc
    * (almost always 1-2 — a doc spans `ceil(n/seqTokens)+1` packs at
    * most), the id join is 1:1 on the doc id, and the final gather
    * groups by (bucket, pack_id) with in-pack position order — pack
    * payloads are bounded by `seqTokens` ids by construction, so the
    * collect_list per group is bounded no matter how skewed the input
    * document lengths are (the window sort bound is [[packSequences]]'
    * per-bucket argument, unchanged).
    */
  def materializePacks(
      packed: DataFrame,
      ids: DataFrame,
      idCol: String,
      tokenCol: String,
      idsCol: String,
      seqTokens: Long): DataFrame = {
    require(seqTokens > 0, "seqTokens must be positive")
    val L = seqTokens
    val withStart = packed.select(col(idCol), col("pack_bucket"),
        (col("pack_id") * L + col("pack_offset")).as("__start"),
        col(tokenCol).cast("long").as("__n"))
      .filter(col("__n") > 0)
    val spans = withStart
      .join(ids.select(col(idCol), col(idsCol).as("__ids")), Seq(idCol))
      .select(col("pack_bucket"), col("__start"), col("__n"), col("__ids"),
        explode(sequence(expr(s"__start div ${L}L"),
          expr(s"(__start + __n - 1) div ${L}L"))).as("__p"))
    val slices = spans.select(
      col("pack_bucket"),
      col("__p").as("pack_id"),
      greatest(col("__start") - col("__p") * L, lit(0L)).as("__pos"),
      slice(col("__ids"),
        (greatest(col("__p") * L - col("__start"), lit(0L)) + 1L)
          .cast("int"),
        (least(col("__n"), (col("__p") + 1L) * L - col("__start")) -
          greatest(col("__p") * L - col("__start"), lit(0L))).cast("int"))
        .as("__slice"))
    slices.groupBy(col("pack_bucket"), col("pack_id"))
      .agg(
        flatten(transform(
          array_sort(collect_list(struct(col("__pos"), col("__slice")))),
          x => x.getField("__slice"))).as("token_ids"))
      .select(col("pack_bucket"), col("pack_id"),
        size(col("token_ids")).cast("long").as("n_tokens"),
        col("token_ids"))
  }

  /** Temperature-based domain mixing (the GPT-3 §2.2 / LLaMA recipe):
    * instead of hand-assigned weights ([[mixToTokenBudget]]), each
    * domain's share of the token `budget` is proportional to
    * `tokens_d ^ alpha` — `alpha = 1` reproduces natural proportions,
    * `alpha < 1` flattens the distribution so small high-quality
    * domains are up-weighted relative to the web-crawl bulk, `alpha =
    * 0` gives every domain an equal share. The share converts to a
    * per-domain keep fraction `min(1, budget * w_d / tokens_d)` and
    * membership is the same id-hash range test as every sampler here.
    *
    * Scale shape: one partial-aggregable per-domain token sum (driver
    * state = one row per domain), then one stateless filter — the
    * fraction CASE pipelines into the scan, nothing corpus-sized
    * shuffles. Domains that over-fill their share cap at 1.0; the
    * surplus is NOT redistributed (same contract as
    * [[mixToTokenBudget]] — redistribution would make every domain's
    * fraction depend on every other's fill state; run a second pass
    * with a higher budget if under-fill matters).
    */
  def mixByTemperature(
      df: DataFrame,
      idCol: String,
      domainCol: String,
      tokenCol: String,
      budget: Long,
      alpha: Double = 0.5): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    require(alpha >= 0 && alpha <= 1, "alpha must be in [0,1]")
    val totals = df.groupBy(col(domainCol))
      .agg(sum(col(tokenCol)).cast("long").as("__tk"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val powSum = totals.valuesIterator
      .map(tk => if (tk <= 0L) 0.0 else math.pow(tk.toDouble, alpha)).sum
    val fractions = totals.map { case (d, tk) =>
      val w = if (tk <= 0L || powSum <= 0.0) 0.0
        else math.pow(tk.toDouble, alpha) / powSum
      d -> (if (tk <= 0L) 0.0 else math.min(1.0, budget * w / tk))
    }
    stratifiedHashSample(df, idCol, domainCol, fractions)
  }

  /** Deterministic fractional-epoch upsampling (the LLaMA data-mixture
    * deployment: high-quality domains repeat for >1 epoch, e.g. Books
    * 2.3 epochs, web 0.64): each row is replicated `floor(e_d)` times
    * plus one more copy iff an id-hash test passes with probability
    * `frac(e_d)` — so a domain at 2.3 epochs emits 2 copies of every
    * doc and a deterministic 30% of docs get a third. Output appends
    * an `epoch` column (0-based copy index) so downstream keys
    * `(id, epoch)` stay unique; the fractional-copy hash is salted
    * (`id || ":up"`) so epoch membership is independent of every other
    * sampler's range test on the same id.
    *
    * Scale shape: a stateless generator — per-row copy count is a CASE
    * of driver-computed literals, the fan-out one pipelined
    * `explode(sequence(...))`, no shuffle, output size exactly
    * `sum_d e_d-ish × |domain_d|`. Domains at 0 epochs drop here
    * (epochs < 1 is [[hashSample]]-style downsampling expressed in the
    * same units as the upsampled domains — one knob for the whole
    * mixture).
    */
  def upsampleToEpochs(
      df: DataFrame,
      idCol: String,
      domainCol: String,
      epochs: Map[String, Double],
      defaultEpochs: Double = 1.0): DataFrame = {
    require((epochs.values ++ Seq(defaultEpochs)).forall(_ >= 0),
      "epochs must be >= 0")
    def copies(e: Double): Column = {
      val base = math.floor(e).toLong
      val extraThresh = math.round((e - base) * Scale)
      (lit(base) + when(
        pmod(hash60(concat(col(idCol).cast("string"), lit(":up"))),
          lit(Scale)) < lit(extraThresh), lit(1L)).otherwise(lit(0L)))
    }
    val n = epochs.foldLeft(copies(defaultEpochs)) { case (acc, (k, e)) =>
      when(col(domainCol) === lit(k), copies(e)).otherwise(acc)
    }
    df.withColumn("__n", n)
      .filter(col("__n") >= 1L)
      // int sequence (copy counts are small by construction): a
      // generator must be top-level, so the element type IS the output
      // type — no cast around the explode
      .withColumn("epoch",
        explode(sequence(lit(0), (col("__n") - 1L).cast("int"))))
      .drop("__n")
  }

  /** Deterministic epoch-shuffle layout for trainer packs: assigns each
    * pack a `shard` and a dense `shard_rank` by seeded id-hash order —
    * the global random visit order a trainer needs, expressed as the
    * layout trainers actually consume (N shard files read in order,
    * packs ordered within each shard). Reshuffling between epochs is
    * just a different `seed`; every run, engine, and retry produces
    * the same order.
    *
    * Scale shape: the only total-order operator in this file, and
    * deliberately NOT a global sort — the hash partitions packs
    * uniformly across `nShards` (seeded, so skew cannot persist across
    * epochs), and the rank window sorts WITHIN a shard only. Size
    * `nShards` so a shard's keys fit a task (e.g. 100 TB of 2k-token
    * packs ≈ 1.5e8 packs → 4096 shards ≈ 37k rows/shard); the
    * alternative (`row_number` over an unpartitioned window) funnels
    * every pack through one task and is exactly the anti-pattern this
    * replaces.
    */
  def shufflePacks(
      packs: DataFrame,
      seed: Long,
      nShards: Int,
      bucketCol: String = "pack_bucket",
      packCol: String = "pack_id"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    import org.apache.spark.sql.expressions.Window
    val h = hash60(concat_ws(":",
      col(bucketCol).cast("string"), col(packCol).cast("string"),
      lit(seed.toString)))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__h"), col(bucketCol), col(packCol))
    packs.withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)))
      .withColumn("shard_rank", row_number().over(w).cast("long"))
      .drop("__h")
  }
}
