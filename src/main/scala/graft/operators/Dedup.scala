package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.cosineFast

/** Document deduplication for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection. Not part
  * of the reference surface (it has no dedup operators) — designed
  * Spark-first for the driver's north star.
  *
  * Scale design:
  *  - every per-document computation (shingling, hashing, signatures) is
  *    a codegen'd column expression — one linear pass, no UDFs, no
  *    shuffles;
  *  - candidate generation never compares all pairs: exact dedup shuffles
  *    on a content hash, MinHash-LSH shuffles on (band, bucket), Jaccard
  *    blocks on a cheap anchor hash. The only joins are equi-joins on
  *    those keys, so Catalyst plans ordinary shuffled hash joins and AQE
  *    splits skewed buckets (a stop-word-like bucket at 100 TB would
  *    otherwise hot-spot one task).
  */
object Dedup {

  /** Exact duplicate groups by content hash. One shuffle on the hash.
    * Returns one row per distinct content: the surviving (minimum) id,
    * and the duplicate count.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"),
        count(lit(1)).as("dup_count"))

  /** The exact-normalized content hash — whitespace runs collapsed,
    * case folded, md5'd. ONE definition shared by [[exactNormalized]]
    * and the persisted incremental index
    * ([[graft.sources.DedupIndex]]), so an index built today matches
    * the hashes a batch computes tomorrow.
    */
  private[graft] def normalizedHash(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Exact dedup after whitespace/case normalization — catches
    * formatting-only duplicates.
    */
  def exactNormalized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(normalizedHash(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"),
        count(lit(1)).as("dup_count"))

  /** Cross-source duplication matrix — the EXACT counterpart of
    * [[Sketches.hllOverlapEstimate]]'s snapshot algebra, answering the
    * provenance question behind every mixing decision ("how much of
    * source B is already inside source A, and should B's weight pay
    * for it"): for every unordered source pair, the number of distinct
    * normalized text hashes present in BOTH, with the Jaccard and
    * per-side containment ratios the mix planner consumes.
    *
    * Scale shape: one corpus-keyed distinct to `(hash, source)` TYPE
    * rows (partial-aggregable — a hash duplicated a million times
    * within one source collapses map-side), then a per-hash fold to
    * its DISTINCT source set; pair fan-out is bounded by
    * |sources|²/2 PER HASH (sources number in the tens, and a hash in
    * one source fans out zero pairs), never by duplicate volume. The
    * per-source totals ride a broadcast join onto the
    * |sources|²-bounded pair table.
    */
  def sourceOverlapMatrix(
      docs: DataFrame,
      textCol: String,
      sourceCol: String): DataFrame = {
    val hs = docs.select(normalizedHash(col(textCol)).as("__h"),
        col(sourceCol).as("__src"))
      .distinct()
    val totals = hs.groupBy(col("__src"))
      .agg(count(lit(1)).as("__n"))
    val a = hs.as("a"); val b = hs.as("b")
    val shared = a.join(b,
        col("a.__h") === col("b.__h") && col("a.__src") < col("b.__src"))
      .groupBy(col("a.__src").as("source_a"), col("b.__src").as("source_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(broadcast(totals.select(col("__src").as("source_a"),
        col("__n").as("__na"))), Seq("source_a"))
      .join(broadcast(totals.select(col("__src").as("source_b"),
        col("__n").as("__nb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared"),
        round(col("shared").cast("double") /
          (col("__na") + col("__nb") - col("shared")), 6).as("jaccard"),
        round(col("shared").cast("double") / col("__na"), 6)
          .as("containment_a"),
        round(col("shared").cast("double") / col("__nb"), 6)
          .as("containment_b"))
  }

  /** Per-document MinHash signature (`numHashes` components over word
    * `shingleN`-gram shingles). The whole signature is one native pass
    * ([[graft.functions.MinHashSigsExpr]]); the per-component columns
    * are element extractions of that array — Catalyst's project-collapse
    * does not inline a non-cheap expression consumed more than once, so
    * the signature is computed exactly once per row with no shuffle
    * barrier needed.
    */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16): DataFrame = {
    val sigDf = Spread.ifNarrow(
        docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
        minhashSigs(shingleHashes(col(textCol), shingleN), numHashes)
          .as("__sigs"))
    val sigCols = (0 until numHashes).map(j =>
      col("__sigs").getItem(j).as(s"sig_$j"))
    sigDf.select((col(idCol) +: sigCols): _*)
  }

  /** LSH candidate pairs: the signature is cut into `bands` bands; a pair
    * is a candidate iff it agrees on all rows of at least one band.
    * Output: (id_a, id_b) with id_a < id_b, distinct.
    *
    * Shape: one native pass computes all band bucket hashes
    * ([[graft.functions.MinHashBucketsExpr]]), `posexplode` fans them out
    * (`Generate` evaluates its child once per row — it doubles as the
    * materialization barrier), and the self-join keys on
    * (band, bucket) — shuffle size is #docs × #bands rows, never #docs².
    * Both join sides are the identical subtree, so the exchange is
    * planned (and AQE-reused) once.
    */
  def minhashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      maxBucketSize: Int = 1000): DataFrame =
    lshPairsFromText(docs, idCol, textCol,
      shingleHashes(_, shingleN), numHashes, bands, maxBucketSize)

  /** [[minhashLshPairs]] over CHARACTER n-gram shingles — the
    * language-agnostic candidate generator for scripts where whitespace
    * word shingles degenerate to whole-line tokens (CJK, Thai).
    * Identical band-join shape.
    *
    * Char shingling yields ~|text| shingles per doc (≈10× the word
    * form), and the per-shingle md5 + minhash work scales with it —
    * `sampleMod > 1` applies universe sampling INSIDE the native
    * shingle loop (keep a shingle iff its last code point % sampleMod
    * == 0 — a pure function of shingle content, so all documents sample
    * the same sub-universe): Jaccard over a fixed sub-universe still
    * estimates the full-universe value, banding recall degrades
    * gracefully, and dropped shingles never reach the md5/minhash
    * stages at all. RETUNE `bands` down when sampling (e.g. 8 → 4 at
    * sampleMod = 4): each signature now rests on `sampleMod`× fewer
    * shingles, so per-band match probability rises and an untuned band
    * count inflates candidate-pair volume — measured at 10×, untuned
    * sampling was a net LOSS (the pair join, not hashing, dominated).
    * Texts shorter than `charN` always keep their whole-text shingle
    * (their one shingle IS their budget — sampling it away would
    * silently unpair identical tiny docs); a longer doc whose sample
    * comes up empty gets no band rows at all (empty bucket array inside
    * the expression), never a shared empty-signature bucket — that
    * would be a corpus-sized false block.
    */
  def minhashLshPairsChar(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      charN: Int = 5,
      numHashes: Int = 16,
      bands: Int = 8,
      sampleMod: Int = 1,
      maxBucketSize: Int = 1000): DataFrame =
    lshPairsFromText(docs, idCol, textCol,
      t => hash60Array(charShingles(t, charN, keepLastCpMod = sampleMod)),
      numHashes, bands, maxBucketSize)

  /** The word-shingle MinHash band signature of `text`: element `b` is
    * band `b`'s bucket. The one definition behind every word-band site
    * (batch near-dup and decontamination, [[Pipeline.curate]]'s
    * signature column, the persisted [[graft.sources.DedupIndex]] and
    * the streaming gates), so they cannot drift apart.
    */
  private[graft] def wordBands(
      text: Column, shingleN: Int, numHashes: Int, bands: Int): Column =
    minhashBuckets(shingleHashes(text, shingleN), numHashes, bands)

  /** `(idCol, band, bucket)` rows of a band-signature column: one row
    * per band, a doc with an empty signature gets none.
    */
  private[graft] def bandRows(
      df: DataFrame, idCol: String, signature: Column): DataFrame =
    df.select(col(idCol), posexplode(signature))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** Band-bucket ownership rows `(idCol, band, bucket)` — the raw
    * material both the in-session pair joins AND the persisted
    * incremental index ([[graft.sources.DedupIndex]]) consume; one
    * definition pins index build and batch probe to the same signature
    * arithmetic. The raw text is spread first, so the shingle/hash
    * pipeline runs after the exchange, on all cores.
    */
  private[graft] def bandBucketRows(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      mkHashes: Column => Column,
      numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    spreadBandRows(docs, idCol, textCol,
      t => minhashBuckets(mkHashes(t), numHashes, bands))
  }

  /** [[bandBucketRows]] for the default word-shingle MinHash form. */
  private[graft] def wordBandBucketRows(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8): DataFrame =
    spreadBandRows(docs, idCol, textCol,
      wordBands(_, shingleN, numHashes, bands))

  private def spreadBandRows(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      signature: Column => Column): DataFrame =
    bandRows(Spread.ifNarrow(docs.select(col(idCol), col(textCol)), col(idCol)),
      idCol, signature(col(textCol)))

  /** Shared band-join candidate generation over [[bandBucketRows]]:
    * fan out to (band, bucket) rows, equi-join. A doc whose hash set is
    * empty gets NO band rows (MinHashBucketsExpr returns an empty array
    * and the posexplode drops it) — the exclusion is inside the
    * expression, not a `filter(size > 0)` on the aliased column, which
    * predicate-pushdown would rewrite to a second full shingle+md5
    * evaluation below the Spread exchange.
    */
  private[operators] def lshPairsFromText(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      mkHashes: Column => Column,
      numHashes: Int,
      bands: Int,
      maxBucketSize: Int = 1000): DataFrame = {
    val buckets = capHotBuckets(
      bandBucketRows(docs, idCol, textCol, mkHashes, numHashes, bands),
      Seq("band", "bucket"), maxBucketSize)
    val a = buckets.as("a")
    val b = buckets.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** Hot-bucket frequency cap for the pair-enumeration band joins — the
    * same scale lesson [[TextAnalysis.winnowOverlapPairs]] encodes with
    * `maxDocFreq`: per-bucket self-join work is quadratic in bucket
    * size, so ONE viral duplicate family (a boilerplate page crawled a
    * million times) collapses into a single (band, bucket) cell and
    * turns a linear band join into a 10^12-pair task. Buckets larger
    * than `maxBucketSize` are dropped BEFORE the self-join: the
    * frequency pass is a partial-aggregable groupBy over the band rows
    * (hot buckets combine map-side) plus a left-semi join back — both
    * linear shuffles on the same (band, bucket) key the pair join
    * shuffles on anyway.
    *
    * Semantics of the cap: members of an over-cap bucket can still pair
    * through their OTHER bands (an actual near-dup pair agrees on
    * several bands with high probability), so moderate families degrade
    * gracefully; a family so viral that ALL its buckets blow the cap
    * produces no pairs at all — deliberate, the same trade as dropping
    * corpus-frequency fingerprints in MOSS pipelines, and the
    * survivor-selection APIs ([[dropDuplicatesKeepBest]]-style bucket
    * ownership) remain the right tool for removing such families.
    * `maxBucketSize <= 0` disables the cap (the pre-r10 behavior, for
    * corpora known to be skew-free).
    *
    * Join direction matters at scale: the exclusion is an ANTI join
    * against the OVER-cap bucket list, not a semi join against the
    * under-cap one — over-cap buckets are by definition few (a corpus
    * where they were common would be one giant duplicate family), so
    * the build side is a handful of rows that AQE broadcasts and the
    * band-row probe side never shuffles for the cap at all; on a
    * skew-free corpus the build side is EMPTY and the cap costs one
    * partial-aggregated count pass. A semi join would instead build on
    * #distinct-buckets rows — corpus-sized.
    */
  private[operators] def capHotBuckets(
      bandRows: DataFrame,
      bucketCols: Seq[String],
      maxBucketSize: Int): DataFrame = {
    if (maxBucketSize <= 0) bandRows
    else {
      val keys = bucketCols.map(col)
      val hot = bandRows.groupBy(keys: _*)
        .agg(count(lit(1)).as("__bucket_n"))
        .filter(col("__bucket_n") > maxBucketSize)
        .select(keys: _*)
      bandRows.join(hot, bucketCols, "left_anti")
    }
  }

  /** Per-document SimHash fingerprint over the low `bits` bits of the
    * shingle hashes. Near-dups have small Hamming distance. One native
    * pass per row ([[graft.functions.SimHashExpr]]), no shuffle.
    */
  def simhashFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bits: Int = 16): DataFrame =
    Spread.ifNarrow(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
        simhash(shingleHashes(col(textCol), shingleN), bits).as("simhash"))

  /** SimHash near-dup pairs: candidates share at least one of `bands`
    * equal bit-bands (a pair within Hamming distance < bands MUST share
    * a band — pigeonhole — so recall is exact for the returned
    * threshold); survivors filtered by true Hamming distance <=
    * `maxHamming`. Equi-join on (band, band-bits): linear shuffle.
    *
    * The band fan-out happens *inside* the generator
    * ([[graft.functions.SimHashBandsExpr]] under `inline()`): the
    * fingerprint is computed exactly once per row, and the join keys are
    * generated attributes, so inferred `isnotnull` constraints cannot be
    * pushed below the Generate and re-evaluate the pipeline.
    */
  def simhashNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bits: Int = 16,
      bands: Int = 4,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    require(maxHamming < bands, "pigeonhole recall needs maxHamming < bands")
    val buckets = capHotBuckets(
      Spread.ifNarrow(
          docs.select(col(idCol), col(textCol)), col(idCol))
        .select(col(idCol),
          inline(simhashBands(shingleHashes(col(textCol), shingleN),
            bits, bands))),
      Seq("band", "band_bits"), maxBucketSize)
    val a = buckets.as("a")
    val b = buckets.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_bits") === col("b.band_bits") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard near-dup pairs, blocked on the `anchors`
    * SMALLEST shingle hashes (k-min sketch blocking): two documents are
    * candidates when they share ANY of their k minimum hashes, so
    * candidate generation stays an equi-join — never a cross product —
    * while (a) recall no longer requires the single lexicographic-min
    * shingle to coincide (by the MinHash argument, near-dups share a
    * k-min anchor with probability ≈ 1-(1-J)^k vs ≈ J for one anchor),
    * and (b) no single corpus-common shingle can collect a quadratic hot
    * block: a doc lands in a block only for hashes among its k smallest,
    * which a stop-word-ish shingle is for few documents. Jaccard >=
    * `threshold` survives; this stage is exact on what it compares, the
    * LSH variant remains the tunable-recall path.
    *
    * Shape (same as [[minhashLshPairsVerified]]): candidate generation
    * is a SLIM self-join — only (id, anchors[k], anchor) rows go through
    * the anchor exchange (the k-long anchor array rides along so a pair
    * colliding on several anchors is kept exactly once, owned by its
    * minimum shared anchor — a per-row array test, NOT a distinct over
    * the exploded pair volume, which on a replica-heavy corpus is the
    * dominant shuffle); the heavy shingle arrays are re-attached by two
    * linear equi-joins afterwards, so each doc's shingles cross a
    * shuffle once per side instead of `anchors`× through the blocking
    * join.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.3,
      anchors: Int = 4): DataFrame = {
    // Spread the raw text first (gated), then build shingles once; the
    // anchors consume the `sh` alias a second time, which is exactly the
    // case project-collapse refuses to inline for non-cheap expressions.
    val withSh = Spread.ifNarrow(
        docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), shingles(col(textCol), shingleN).as("sh"))
      .withColumn("anchors", slice(array_sort(array_distinct(
        hash60Array(col("sh"), mod = HashP))), 1, anchors))
    val slim = withSh.select(col(idCol), col("anchors"),
      explode(col("anchors")).as("anchor"))
    val cand = slim.as("a").join(slim.as("b"),
        col("a.anchor") === col("b.anchor") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      // anchor ownership: exactly-once per pair, at its min shared anchor
      .filter(col("a.anchor") ===
        array_min(array_intersect(col("a.anchors"), col("b.anchors"))))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
    val sh = withSh.select(col(idCol), col("sh"))
    cand
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("__sha")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("__shb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("__sha"), col("__shb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Banding-quality eval: recall/precision of the MinHash-LSH
    * candidate generator against EXACT shingle-Jaccard ground truth.
    * The truth side is a brute-force non-equi pair join — quadratic BY
    * DESIGN (the [[graft.operators.Similarity.knnBruteForce]]
    * precedent): run it on a bounded SAMPLE to choose (numHashes,
    * bands, shingleN) before the corpus pass, while the LSH side runs
    * the production generator UNCHANGED, cap included. Output one row:
    * (n_true, n_cand, n_hit, recall, precision). Recall is the number
    * that matters — a true pair the banding misses never reaches any
    * verify stage; precision only prices the verify-stage work.
    */
  def lshEval(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.3,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      maxBucketSize: Int = 1000): DataFrame = {
    val sh = Spread.ifNarrow(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), shingles(col(textCol), shingleN).as("__sh"))
    val truth = sh.as("a")
      .join(sh.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        jaccard(col("a.__sh"), col("b.__sh")).as("__j"))
      .filter(col("__j") >= threshold)
      .select(col("id_a"), col("id_b"))
    val cand = minhashLshPairs(docs, idCol, textCol, shingleN, numHashes,
        bands, maxBucketSize)
      .select(col("id_a"), col("id_b")).dropDuplicates("id_a", "id_b")
    truth.withColumn("__t", lit(1)).withColumn("__c", lit(0))
      .unionByName(cand.withColumn("__t", lit(0)).withColumn("__c", lit(1)))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("__t")).as("__t"), max(col("__c")).as("__c"))
      .agg(
        coalesce(sum(col("__t")), lit(0)).cast("long").as("n_true"),
        coalesce(sum(col("__c")), lit(0)).cast("long").as("n_cand"),
        coalesce(sum(col("__t") * col("__c")), lit(0)).cast("long")
          .as("n_hit"))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        round(col("n_hit") / greatest(col("n_true"), lit(1L)), 6)
          .as("recall"),
        round(col("n_hit") / greatest(col("n_cand"), lit(1L)), 6)
          .as("precision"))
  }

  /** Edit-distance similarity join: every pair (id_a < id_b) whose key
    * strings are within Levenshtein distance `maxDist` — the classic
    * entity-resolution primitive (near-identical titles, names, URLs)
    * that Spark has no operator for. EXACT semantics (unlike the LSH
    * family's probabilistic recall): candidate generation is the
    * Ed-Join prefix filter (Xiao, Wang & Lin, VLDB 2008) over the
    * DISTINCT q-gram sets [[graft.functions.CharShinglesExpr]]
    * produces, under the set form of the Gravano et al. (VLDB 2001)
    * bound: one edit rewrites at most q gram positions, so d edits
    * remove at most q·d gram TYPES from either side's distinct set —
    * `|T1 ∩ T2| >= |T1| - q·d` (symmetrically for T2) — and under ANY
    * fixed total order on the gram universe two qualifying keys must
    * collide inside each other's `q·d + 1` first grams. The order is
    * (global gram df, gram) — rarity-first, which is what keeps the
    * prefix join's buckets small (hot grams only reach a prefix when
    * a key has nothing rarer). Survivors are confirmed with the
    * thresholded native `levenshtein(a, b, maxDist)` (early-exit DP).
    *
    * The count bound is vacuous when BOTH keys are shorter than
    * `q·(d+1)` chars — those pairs route through a short block: a
    * length-band bucket join (width d+1, each row in two buckets),
    * quadratic only in the number of sub-`q(d+1)`-char keys per band
    * (a curated corpus bounds those up front via minChars).
    *
    * Scale shape: the fuzzy join runs over DISTINCT keys only (see
    * the collapse note in the body — dup-heavy corpora would
    * otherwise square every candidate bucket); this operator is for
    * SHORT key strings, not document bodies. Gram df is a
    * vocabulary-sized aggregate (char-gram vocab ≤ |charset|^q,
    * broadcast-safe for the enforced q ≤ 4 — the langid profile
    * precedent); prefix selection is a per-key window with ≤ len rows
    * per group (skew-free); the candidate join carries only q·d+1
    * grams per key and the confirm reads the key strings riding the
    * candidate row — no re-join; the doc-pair expansion is linear in
    * the OUTPUT. No pair enumeration anywhere.
    */
  def editDistancePairs(
      docs: DataFrame,
      idCol: String,
      keyCol: String,
      maxDist: Int = 2,
      q: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxDist >= 1, "maxDist must be >= 1 (use exact() for 0)")
    require(q >= 1 && q <= 4, "q must be in [1, 4] (gram vocab bound)")
    val prefixK = q * maxDist + 1
    val minLong = q * (maxDist + 1)
    val keys = docs.select(col(idCol), col(keyCol))
      .filter(col(keyCol).isNotNull)

    // the fuzzy join runs over DISTINCT keys only — a dup-heavy corpus
    // (the normal case: fuzzy joins run on titles/names) would
    // otherwise amplify every candidate bucket by its duplication
    // factor SQUARED; identical-key doc pairs are reconstructed exactly
    // below as the dist-0 block. The key string itself is the node id
    // (binary-collation `<` is the pair-normalization total order)
    val kd = keys.select(col(keyCol).as("__k")).distinct()
      .withColumn("__len", length(col("__k")))

    // main block: key pairs where the LONGER key has >= q(d+1) chars
    // (charShingles emits the DISTINCT gram set — the set bound above
    // is stated directly on it)
    val toks = kd
      .select(col("__k"), col("__len"),
        explode(charShingles(col("__k"), q)).as("__g"))
    val dfTab = toks.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    val prefix = toks.join(broadcast(dfTab), Seq("__g"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__k"))
          .orderBy(col("__df"), col("__g"))))
      .filter(col("__rk") <= prefixK)
      .select(col("__k"), col("__len"), col("__g"))
    val candMain = prefix.as("a").join(prefix.as("b"),
        col("a.__g") === col("b.__g") &&
        col("a.__k") < col("b.__k") &&
        abs(col("a.__len") - col("b.__len")) <= maxDist &&
        greatest(col("a.__len"), col("b.__len")) >= minLong)
      .select(col("a.__k").as("__ka"), col("b.__k").as("__kb"))

    // short block: both keys under q(d+1) chars — length bands of
    // width d+1, two buckets per row so any |Δlen| <= d pair collides
    val shortE = kd.filter(col("__len") < minLong)
      .withColumn("__bk0", floor(col("__len") / (maxDist + 1)))
      .select(col("__k"), col("__len"),
        explode(array(col("__bk0"), col("__bk0") + 1)).as("__bk"))
    val candShort = shortE.as("a").join(shortE.as("b"),
        col("a.__bk") === col("b.__bk") &&
        col("a.__k") < col("b.__k") &&
        abs(col("a.__len") - col("b.__len")) <= maxDist)
      .select(col("a.__k").as("__ka"), col("b.__k").as("__kb"))

    // confirm needs no re-join: the key strings ARE the candidate row
    val kPairs = candMain.unionByName(candShort)
      .dropDuplicates("__ka", "__kb")
      .select(col("__ka"), col("__kb"),
        levenshtein(col("__ka"), col("__kb"), maxDist).as("dist"))
      .filter(col("dist") >= 1 && col("dist") <= maxDist)

    // expansion back to doc pairs: cross products of the two key
    // families (linear in the OUTPUT), plus the identical-key block
    val cross = kPairs
      .join(keys.select(col(idCol).as("__ida"), col(keyCol).as("__ka")),
        Seq("__ka"))
      .join(keys.select(col(idCol).as("__idb"), col(keyCol).as("__kb")),
        Seq("__kb"))
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"), col("dist"))
    val same = keys.as("x").join(keys.as("y"),
        col(s"x.$keyCol") === col(s"y.$keyCol") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        lit(0).as("dist"))
    same.unionByName(cross)
  }

  /** LSH candidates post-verified by EXACT shingle Jaccard — the
    * standard two-stage fuzzy dedup: banding proposes (cheap, linear,
    * but a band collision can be a false positive), the exact set
    * overlap disposes. Output: (id_a, id_b, jaccard) with
    * jaccard >= `threshold`.
    *
    * Scale: two extra equi-joins re-attach the shingle sets to the pair
    * endpoints (pairs are already near-linear from the band join); the
    * per-pair intersection is a native array op. This is the precision
    * knob that lets `bands` stay high (recall) without over-dropping.
    */
  def minhashLshPairsVerified(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.3,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      maxBucketSize: Int = 1000): DataFrame = {
    val pairs = minhashLshPairs(docs, idCol, textCol, shingleN, numHashes,
      bands, maxBucketSize)
    val sh = Spread.ifNarrow(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), shingles(col(textCol), shingleN).as("__sh"))
    pairs
      .join(sh.select(col(idCol).as("id_a"), col("__sh").as("__sha")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("__sh").as("__shb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("__sha"), col("__shb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The end-to-end dedup application: drop every document that appears
    * as the higher id of a near-dup candidate pair — greedy
    * keep-lowest-id survivor selection (for a chain a<b<c of pairs
    * (a,b),(b,c), b and c drop and a survives). An anti-join against the
    * pair set; with LSH pairs this is the standard linear-shuffle corpus
    * dedup at scale.
    */
  def dropNearDuplicates(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame): DataFrame =
    docs.join(pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Connected components over a near-dup pair set by min-label
    * propagation: every node ends up labeled with the smallest id
    * reachable through the pair graph — the survivor-selection step of
    * corpus dedup done right (the greedy pair anti-join in
    * [[dropNearDuplicates]] is order-sensitive on chains a<b<c; grouping
    * a component keeps exactly one document per duplicate *cluster*).
    *
    * Output: (id, component) for every id in `pairs`, component = the
    * minimum id of its cluster.
    *
    * Scale: the pair graph is orders of magnitude smaller than the
    * corpus (it holds only near-duplicates). Below `localEdgeLimit`
    * edges the component labeling runs as a driver-side union-find on
    * the collected edge list — collected as primitive long pairs
    * (2M directed edges ≈ 64 MB of specialized tuples, not Row objects)
    * — milliseconds, zero jobs — which is the standard hybrid for graph
    * post-processing of a distributed candidate stage. Above the limit
    * it switches to distributed min-label propagation with pointer
    * jumping (label := label of label, O(log diameter) rounds), one
    * neighbor-min equi-join + one contraction self-join per round,
    * lineage cut per round with `localCheckpoint`, stopping at the
    * fixpoint. Both paths compute the same unique fixpoint (component =
    * min reachable id). If `maxIter` rounds pass without convergence the
    * distributed path THROWS rather than silently returning
    * partially-merged labels (with pointer jumping, 20 rounds cover any
    * component diameter up to ~2^20 — hitting the bound means the labels
    * are wrong, not slow).
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 20,
      localEdgeLimit: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    val nEdges = edges.count() // free: the checkpoint just materialized
    if (nEdges <= localEdgeLimit) {
      // driver union-find over the bounded edge list
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.getOrDefault(c, c); parent.put(c, r); c = nxt
        }
        r
      }
      // collect primitive pairs, not Rows: (Long, Long) specializes to
      // Tuple2$mcJJ$sp — a fraction of an InternalRow's footprint
      val edgePairs = edges.rdd
        .map(r => (r.getLong(0), r.getLong(1))).collect()
      edgePairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // union by min root: the root of a set is always its minimum id
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      // src covers every node: edges carries both directions
      val out = edgePairs.map(_._1).distinct.toSeq
        .map(id => (id, find(id)))
      import spark.implicits._
      out.toDF("id", "component")
    } else {
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id"))
        .localCheckpoint()
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        // smallest label among each node's neighbors
        val prop = edges.join(labels.withColumnRenamed("id", "__n"),
            col("dst") === col("__n"))
          .groupBy(col("src")).agg(min(col("component")).as("__nl"))
        val stepped = labels.join(prop, col("id") === col("src"), "left")
          .select(col("id"),
            least(col("component"), coalesce(col("__nl"), col("component")))
              .as("component"))
        // pointer jumping: follow the label to ITS label — labels are
        // always node ids, so the lookup is a self-join; halves the
        // remaining chain length every round
        val lookup = stepped
          .select(col("id").as("__lid"), col("component").as("__lcomp"))
        val next = stepped
          .join(lookup, col("component") === col("__lid"), "left")
          .select(col("id"),
            coalesce(col("__lcomp"), col("component")).as("component"))
          .localCheckpoint()
        converged = next.join(labels.withColumnRenamed("component", "__old"),
            Seq("id"))
          .filter(col("component") < col("__old")).isEmpty
        labels = next
        i += 1
      }
      if (!converged)
        throw new graft.core.PuffbirdException(
          s"connectedComponents did not converge in $maxIter rounds — " +
            "labels would be partially merged (raise maxIter; pointer " +
            s"jumping covers diameter ~2^$maxIter, so this indicates a " +
            "pathological graph, not normal slowness)")
      labels
    }
  }

  /** Corpus near-dup drop with component-exact survivor selection: every
    * document whose cluster contains a smaller id is dropped — one
    * survivor per duplicate cluster, chain-safe.
    */
  def dropNearDuplicateClusters(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame): DataFrame = {
    val losers = connectedComponents(pairs)
      .filter(col("component") =!= col("id"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Decontamination: drop every corpus document that is a NEAR-duplicate
    * of any document in `probe` (the eval/benchmark set) — the standard
    * train/test-overlap scrub of a training-data pipeline, as a
    * cross-corpus MinHash-LSH band join. A corpus document is
    * contaminated iff it shares at least one (band, bucket) with a probe
    * document (same collision semantics as [[minhashLshPairs]]; raise
    * `numHashes`/`bands` for precision).
    *
    * Scale: the probe's distinct bucket set broadcasts into a map-side
    * semi join, so the corpus is scanned once and never shuffled for
    * it; a probe too large to broadcast goes through
    * [[decontaminateExactBloom]] or a persisted
    * [[graft.sources.DeconIndex]].
    */
  def decontaminate(
      corpus: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def rows(df: DataFrame) =
      wordBandBucketRows(df, idCol, textCol, shingleN, numHashes, bands)
    decontaminateBands(corpus, rows(corpus), rows(probe), idCol)
  }

  /** [[decontaminate]]'s body over precomputed `(idCol, band, bucket)`
    * rows of the corpus and the probe — for a caller whose corpus
    * already carries its signature ([[Pipeline.curate]]'s `__bands`
    * column). Probe buckets and the semi/anti joins are the ones
    * documented there.
    */
  private[graft] def decontaminateBands(
      corpus: DataFrame,
      corpusBands: DataFrame,
      probeBands: DataFrame,
      idCol: String): DataFrame = {
    val probeBuckets =
      probeBands.select(col("band"), col("bucket")).distinct()
    val contaminated = corpusBands
      .join(broadcast(probeBuckets), Seq("band", "bucket"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Positional normalized word n-gram hashes (lowercase, whitespace
    * split, 16-byte md5 keys) — the ONE definition behind the whole
    * exact-decontamination family ([[decontaminateExact]], the Bloom
    * path, [[contaminationReport]]): the three paths share oracles
    * verbatim, which is only sound while their gram keys cannot drift.
    */
  private[graft] def normalizedGramHashes(
      df: DataFrame, textCol: String, n: Int, cols: Column*): DataFrame =
    df.select(cols :+ explode(wordGramHash128(
      filter(split(trim(lower(col(textCol))), "\\s+"),
        w => length(w) > 0), n)).as("__h"): _*)

  /** Duplicate-cluster size histogram — the "how much mass sits in
    * dup clusters, and how big do they get" report a dedup rollout
    * decision reads (a corpus with ten 10k-doc viral clusters needs a
    * different plan than one with a million pairs): component sizes
    * over the near-dup pair graph, folded to one row per size. Output
    * `(cluster_size, n_clusters, n_docs)`, ≤ |distinct sizes| rows —
    * singletons (docs with no near-dup edge) are by construction not
    * in the pair graph and not counted; subtract `Σ n_docs` from the
    * corpus count for them.
    */
  def componentSizeReport(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  /** Per-document CROSS-doc duplication exposure — the memorization-
    * risk ranking of the dedup-analysis family (Lee et al. 2022 §5 /
    * Carlini et al. 2022 connect duplicated training spans to verbatim
    * memorization): for each doc, the fraction of its word-`n`-gram
    * POSITIONS whose gram also occurs in at least one OTHER document.
    * Complements the family's other views — `repetitionScores` is
    * WITHIN-doc, `overlapMatrix` is per-SOURCE; this is the per-doc
    * triage list ("which docs are mostly recycled text") that feeds
    * doc-level policy (drop, downsample, or substring-dedup first).
    *
    * Scale shape: the gram stream is token-scale and everything on it
    * is linear — one distinct + partial-aggregable docs-per-gram
    * count, one semi join of the stream against the shared-gram keys
    * (both sides hash-partition on the gram), two per-doc count
    * aggregates. Nothing is ever sorted; no pair enumeration exists
    * (a gram shared by 10k docs costs 10k stream rows, not 10k²
    * pairs). Gram keys are the exact-decon family's
    * ([[normalizedGramHashes]]) so the definition cannot drift from
    * the decontamination/substring legs.
    *
    * Output `(idCol, n_grams, dup_grams, exposure)` for EVERY doc;
    * docs shorter than `n` words read `(0, 0, 0.0)`.
    */
  def crossDocGramExposure(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13): DataFrame = {
    require(n >= 1, "n must be positive")
    // materialized ONCE (the substring-dedup fan-out lesson): the gram
    // table feeds THREE consumers (shared-gram counts, per-doc totals,
    // per-doc dup counts) — left lazy, each re-runs the positional
    // gram hashing over the input; spread first so a single-split
    // local input doesn't hash serially (no-op at real scale)
    val g = materialize(normalizedGramHashes(
      Spread.ifNarrow(df.select(col(idCol), col(textCol)), col(idCol)),
      textCol, n, col(idCol)))
    val shared = g.select(col(idCol), col("__h")).distinct()
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("__h"))
    val tot = g.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val dup = g.join(shared, Seq("__h"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("dup_grams"))
    df.select(col(idCol))
      .join(tot, Seq(idCol), "left")
      .join(dup, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(coalesce(col("dup_grams"), lit(0L))
            .cast("double") / col("n_grams"), 6)).as("exposure"))
  }

  /** EXACT n-gram decontamination — the published GPT-3/Pile recipe
    * (Brown et al. 2020 App. C; Gao et al. 2020): a training document
    * is dropped if it shares at least ONE exact word `n`-gram (default
    * 13, the GPT-3 choice) with the eval probe, after
    * lowercase/whitespace normalization. Complements the MinHash-band
    * [[decontaminate]]: bands catch NEAR-dup contamination
    * probabilistically; this catches verbatim quoted spans with exact
    * semantics and zero false negatives above the span length.
    *
    * Scale shape: both sides collapse to DISTINCT 16-byte gram keys
    * ([[graft.functions.WordGramHash128Expr]] — dropping happens on key
    * equality, so collision-safety matters exactly as in substring
    * dedup); the probe side (eval sets — tiny by definition) broadcasts
    * into a semi join against the corpus gram stream, so the corpus
    * never shuffles; probes too large to broadcast go through
    * [[decontaminateExactBloom]] or a persisted
    * [[graft.sources.DeconIndex]]. Documents shorter than `n` words
    * produce no grams and are never dropped, as published.
    */
  def decontaminateExact(
      corpus: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13): DataFrame = {
    require(n >= 2, "n must be >= 2")
    def grams(df: DataFrame, cols: Column*) =
      normalizedGramHashes(df, textCol, n, cols: _*)
    val probeGrams = grams(probe).select(col("__h")).distinct()
    val contaminated = grams(corpus, col(idCol))
      .join(broadcast(probeGrams), Seq("__h"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Build a Bloom bitset (`mBits/64` longs) over a single-binary-column
    * frame of 16-byte gram hashes. Distributed: positions fan out k-way,
    * `bit_or` partial-aggregates per 64-bit word, and at most `mBits/64`
    * combined rows reach the driver (16 K rows at the 2^20 default — a
    * bounded, documented collect in the [[graft.sources.AnnIndex]]
    * tradition, NOT corpus-sized).
    */
  def buildGramBloom(hashes: DataFrame, mBits: Int, k: Int): Array[Long] = {
    require(mBits > 0 && mBits % 64 == 0,
      "mBits must be a positive multiple of 64")
    val words = new Array[Long](mBits / 64)
    hashes.toDF("__h")
      .select(explode(bloomPositions(col("__h"), mBits, k)).as("pos"))
      .select((col("pos") / 64).cast("long").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("bits"))
      .collect()
      .foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    words
  }

  /** Per-PROBE-document contamination audit — [[decontaminateExact]]'s
    * reverse direction: for every eval/benchmark document, the fraction
    * of its word `n`-grams appearing verbatim anywhere in the training
    * corpus — the overlap table a contamination report publishes
    * ("X% of benchmark B overlaps training data at 13 grams", the
    * GPT-3/GPT-4/Llama appendix methodology). Output one row per probe
    * doc with ≥ 1 gram: `(idCol, n_grams, n_contaminated,
    * contamination)`; the fraction is a RAW double (harness projections
    * round).
    *
    * Scale shape: the probe's DISTINCT gram keys broadcast into a semi
    * join against the corpus gram stream — the corpus never shuffles —
    * and only MATCHED keys (≤ probe set size) reach the distinct
    * aggregate; the per-doc rollup joins the probe's positional grams
    * to that small matched set broadcast. One corpus scan plus
    * probe-sized shuffles: the decontamination broadcast path run for
    * a report instead of a drop.
    */
  def contaminationReport(
      corpus: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13): DataFrame = {
    require(n >= 2, "n must be >= 2")
    def grams(df: DataFrame, cols: Column*) =
      normalizedGramHashes(df, textCol, n, cols: _*)
    val probeGrams = grams(probe, col(idCol))
    val probeSet = probeGrams.select(col("__h")).distinct()
    val matched = grams(corpus)
      .join(broadcast(probeSet), Seq("__h"), "left_semi")
      .select(col("__h")).distinct()
      .withColumn("__hit", lit(1L))
    probeGrams.join(broadcast(matched), Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination",
        col("n_contaminated").cast("double") / col("n_grams"))
  }

  /** [[decontaminateExact]] for probes TOO LARGE TO BROADCAST — the
    * held-out-corpus case (decontaminating a crawl against another
    * multi-TB corpus rather than a small eval set), where a plain
    * shuffled semi join would move the ENTIRE corpus-side gram
    * stream. A Bloom filter over the probe's distinct
    * gram keys is `mBits/8` bytes REGARDLESS of probe size (128 KB at
    * the 2^20-bit default), always ships to every task, and prefilters
    * the corpus gram stream at scan time to contaminated-plus-false-
    * positive grams only; the exact shuffled semi join then confirms,
    * so false positives cost shuffle rows, NEVER dropped documents —
    * the result is decontaminateExact's exactly, for any `mBits`/`k`
    * (the gate shares its oracle verbatim). Shuffle cost falls from
    * O(probe + corpus grams) to O(probe + contaminated + fp·corpus
    * grams); size `mBits` ≥ ~10× the probe's distinct gram count to
    * keep fp ≈ (1-e^(-k·n/m))^k below a percent.
    *
    * The probe gram table is localCheckpointed: it feeds BOTH the
    * filter build (an action) and the confirm join, and at this
    * operator's target probe sizes recomputing the shingle pass would
    * double the dominant cost.
    */
  def decontaminateExactBloom(
      corpus: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      mBits: Int = 1 << 20,
      bloomK: Int = 4): DataFrame = {
    require(n >= 2, "n must be >= 2")
    def grams(df: DataFrame, cols: Column*) =
      normalizedGramHashes(df, textCol, n, cols: _*)
    val probeGrams = grams(probe).select(col("__h")).distinct()
      .localCheckpoint()
    val bloom = buildGramBloom(probeGrams, mBits, bloomK)
    val contaminated = grams(corpus, col(idCol))
      .filter(bloomContains(col("__h"), bloom, bloomK))
      .join(probeGrams, Seq("__h"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** SURGICAL exact n-gram decontamination — the variant GPT-3 actually
    * shipped (Brown et al. 2020 App. C removes a window AROUND each
    * contaminated n-gram and keeps the clean remainder, rather than
    * dropping the document): every corpus word-`n`-gram whose
    * normalized form appears anywhere in the probe is removed from the
    * corpus text, overlapping removal spans merging positionally, and
    * the scrubbed document survives. Use [[decontaminateExact]] when
    * whole-document drop is acceptable (cheaper — no rewrite); use
    * this when the corpus is precious and only the quoted eval spans
    * must go (the published motivation: benchmarks quote books and
    * news that are otherwise good training data).
    *
    * Matching is lowercase-normalized (= [[decontaminateExact]]'s key)
    * but the rewrite keeps the ORIGINAL casing of surviving words —
    * `lower` never changes whitespace, so normalized gram positions
    * index the original token array directly. Output is
    * [[dedupSubstrings]]' schema: `(id, text_kept, n_words_kept,
    * n_words_dropped)`, one row per corpus doc. NOTE the rebuild
    * contract (shared with [[dedupSubstrings]]): `text_kept` is the
    * surviving WORDS joined by single spaces — whitespace runs and
    * line breaks collapse corpus-wide, including in documents with no
    * contamination at all (their word sequence is unchanged, their
    * whitespace is not). Run line-structure-sensitive operators
    * ([[dedupLines]], [[TextAnalysis.stripBoilerplateLines]]) BEFORE
    * scrubbing, or keep the original column alongside.
    *
    * Scale shape: the probe side collapses to DISTINCT 16-byte gram
    * keys and broadcasts (eval sets are tiny by definition) into a
    * semi join against the corpus's positional gram stream — the
    * corpus never shuffles for it; the only corpus-keyed shuffle is the
    * per-doc starts aggregate, whose input is CONTAMINATED grams only
    * (eval-overlap-sized, not corpus-sized). Token arrays materialize
    * once ([[materialize]]) for the gram pass and the rewrite join, the
    * [[dedupSubstrings]] fan-out discipline.
    */
  def scrubContaminatedSpans(
      corpus: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13): DataFrame = {
    require(n >= 2, "n must be >= 2")
    def words(c: Column) = filter(split(c, "\\s+"), w => length(w) > 0)
    val probeGrams = probe.select(explode(wordGramHash128(
        transform(words(col(textCol)), w => lower(w)), n)).as("__h"))
      .distinct()
    val toks = materialize(
      Spread.ifNarrow(corpus.select(col(idCol), col(textCol)), col(idCol))
        .select(col(idCol), words(col(textCol)).as("__ws")))
    val grams = toks.filter(size(col("__ws")) >= n)
      .select(col(idCol), posexplode(wordGramHash128(
        transform(col("__ws"), w => lower(w)), n))
        .as(Seq("__gpos", "__h")))
    val starts = grams
      .join(broadcast(probeGrams), Seq("__h"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__gpos"))).as("__starts"))
    applyWordRemoval(toks, starts, idCol, n)
  }

  /** [[scrubContaminatedSpans]] over BPE TOKEN streams — the surgical
    * decontamination form for text where whitespace word grams cannot
    * see the quoted span (unsegmented CJK, code, concatenated
    * boilerplate — the same blindness [[dedupSubstringsBpe]] exists
    * for): every corpus token-id `spanTokens`-gram that appears
    * anywhere in the probe's token streams is removed, overlapping
    * spans merge positionally in TOKEN space, and the text is rebuilt
    * byte-exactly from the surviving tokens
    * ([[graft.functions.BpeTokenRemoveExpr]] — with the same
    * invalid-UTF-8 seam caveat and `scrubSeams` escape hatch as the
    * dedup form).
    *
    * Matching is BYTE-EXACT (token-id equality under `merges`), not
    * lowercase-normalized like the word form — token-level
    * contamination is defined on the byte stream the trainer actually
    * sees, and normalizing would desynchronize gram positions from the
    * rebuild's token array. Output: `(id, text_kept, n_tokens_kept,
    * n_tokens_dropped)`, one row per corpus doc; docs shorter than
    * `spanTokens` tokens pass through byte-identically (null starts =
    * identity rebuild, property-pinned in the dedup form's specs).
    *
    * Scale shape: identical to [[scrubContaminatedSpans]] with the
    * token-faithful price — one gram row per TOKEN; the probe side
    * collapses to distinct 16-byte keys and broadcasts, the corpus
    * side streams through the semi join, and the only corpus-keyed
    * shuffle carries CONTAMINATED grams only.
    */
  def scrubContaminatedSpansBpe(
      corpus: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 50,
      merges: Seq[(String, String)] = graft.functions.Bpe.fixtureMerges,
      scrubSeams: Boolean = false): DataFrame = {
    require(spanTokens >= 2, "spanTokens must be >= 2")
    val k = spanTokens
    val probeGrams = probe.select(explode(intGramHash128(
        bpeTokenIds(col(textCol), merges), k)).as("__h"))
      .distinct()
    val toks = materialize(
      Spread.ifNarrow(corpus.select(col(idCol), col(textCol)), col(idCol))
        .select(col(idCol),
          bpeTokenIds(col(textCol), merges).as("__ids")))
    val grams = toks.filter(size(col("__ids")) >= k)
      .select(col(idCol),
        posexplode(intGramHash128(col("__ids"), k))
          .as(Seq("__gpos", "__h")))
    val starts = grams
      .join(broadcast(probeGrams), Seq("__h"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__gpos"))).as("__starts"))
    toks.join(starts, Seq(idCol), "left_outer")
      .select(col(idCol),
        bpeTokenRemove(col("__ids"), col("__starts"), k, merges,
          scrubSeams).as("__r"))
      .select(col(idCol),
        col("__r").getField("text_kept").as("text_kept"),
        col("__r").getField("n_tokens_kept").as("n_tokens_kept"),
        col("__r").getField("n_tokens_dropped").as("n_tokens_dropped"))
  }

  /** Exact-dup corpus dedup: keep the minimum id per content hash. */
  def dropDuplicatesExact(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val keep = exact(docs, idCol, textCol)
      .select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Embedding near-dup pairs: cosine >= `threshold` within a blocking
    * key (e.g. a coarse cluster/label or LSH bucket) — the block keeps the
    * self-join from being quadratic in the corpus.
    */
  def embeddingCosinePairs(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double = 0.95): DataFrame = {
    // spread (gated): parallelize the self-join compute when the source
    // is a single small file; at scale the join's own (block) exchange
    // provides the partitioning.
    val v = Spread.ifNarrow(
      vecs.select(col(idCol), col(vecCol), col(blockCol)), col(blockCol))
    val a = v.as("a")
    val b = v.as("b")
    a.join(b,
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        cosineFast(col(s"a.$vecCol"), col(s"b.$vecCol")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Corpus-level LINE deduplication (the C4 recipe, Raffel et al. 2020
    * §2.2: drop repeated spans corpus-wide, keeping one occurrence):
    * every line keeps only its first occurrence over the whole corpus —
    * "first" = smallest (doc id, line position), so the result is
    * deterministic and retry-stable. Lines whose trimmed length is
    * below `minLineChars` are exempt (blank/separator lines carry no
    * signal and would hot-spot the shuffle).
    *
    * Returns one row per input document: the surviving text (kept lines
    * re-joined in original order; empty string when everything was
    * dropped) plus kept/dropped counts.
    *
    * Scale shape — every per-key step is PARTIAL-AGGREGABLE, so a
    * corpus-wide hot line ("Subscribe to our newsletter" × 10⁹) is
    * absorbed by map-side combine instead of landing in one task:
    *
    *  1. Exempt lines (trimmed length < `minLineChars` — blank and
    *     separator lines, the worst repeat offenders) are routed AROUND
    *     the dedup entirely and unioned back flagged kept: they never
    *     reach the line-hash shuffle.
    *  2. First occurrence per line = `groupBy(md5(line))
    *     .agg(min(struct(id, pos)))` — min combines map-side, so the
    *     exchange carries one row per distinct line per input partition,
    *     not one row per occurrence. (A `row_number` window over the
    *     line hash would sort ALL occurrences of a hot key in a single
    *     task — the classic straggler; a window partition cannot be
    *     skew-split by AQE.)
    *  3. Join-back on the line hash marks each occurrence kept/dropped.
    *     The firsts side has exactly one row per key, so a hot key skews
    *     only the occurrence side of a sort-merge join — the shape AQE
    *     skew-join splits.
    *  4. One shuffle on the doc id reassembles documents.
    */
  def dedupLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minLineChars: Int = 1): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    // Spark `trim` strips spaces only — exactly DuckDB trim() semantics
    // (the oracle's blank-line check must keep agreeing)
    val exempt = lines
      .filter(length(trim(col("__line"))) < minLineChars)
      .select(col(idCol), col("__pos"), col("__line"), lit(true).as("__keep"))
    val ranked = lines
      .filter(length(trim(col("__line"))) >= minLineChars)
      .withColumn("__h", md5(col("__line")))
    val firsts = ranked.groupBy(col("__h"))
      .agg(min(struct(col(idCol).as("__fid"), col("__pos").as("__fpos")))
        .as("__f"))
    val flagged = ranked.join(firsts, Seq("__h"))
      .select(col(idCol), col("__pos"), col("__line"),
        (col("__f").getField("__fid") === col(idCol) &&
          col("__f").getField("__fpos") === col("__pos")).as("__keep"))
    exempt.unionByName(flagged).groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__keep"), struct(col("__pos"), col("__line"))))),
            x => x.getField("__line")),
          "\n").as("text_kept"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_lines_kept"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_lines_dropped"))
  }

  /** Exact-dup survivor selection by QUALITY instead of id: within each
    * (normalized) content-hash group the document with the highest
    * `scoreCol` survives, ties broken by the smaller id — e.g. keep the
    * longest/cleanest copy of a page that was crawled many times with
    * formatting variations. Same single-shuffle shape as [[exact]]; the
    * argmax is a struct-min (one partial-aggregable expression), not a
    * window, so map-side combine still applies.
    *
    * Contract: `scoreCol` must be NUMERIC (it is negated to invert the
    * struct ordering — a quality score always is); the id may be ANY
    * orderable type (long, string, …) since it is compared as-is.
    */
  def dropDuplicatesKeepBest(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: Column,
      normalized: Boolean = true): DataFrame = {
    val key =
      if (normalized)
        md5(regexp_replace(trim(lower(col(textCol))), "\\s+", " "))
      else md5(col(textCol))
    docs
      .groupBy(key.as("text_hash"))
      .agg(count(lit(1)).as("dup_count"),
        // min(struct(-score, id)) = highest score, then LOWEST id — a
        // deterministic argmax (max_by ties are engine-dependent) that
        // stays type-agnostic in the id: negating the numeric score
        // instead of the id keeps string/any-type ids working
        min(struct((-scoreCol).as("ns"), col(idCol).as("kid"))).as("__m"))
      .select(col("text_hash"), col("__m.kid").as("keep_id"),
        (-col("__m.ns")).as("keep_score"), col("dup_count"))
  }

  /** Semantic deduplication over an embedding column (the SemDeDup
    * recipe, Abbas et al. 2023: cluster, then drop all-but-one of every
    * within-cluster group of semantically near-identical points). Each
    * vector is assigned to its nearest centroid
    * ([[Similarity.ivfAssign]] — centroids broadcast, one linear pass);
    * within a cell, a vector is dropped iff some SMALLER-id cell-mate
    * has cosine >= `tau` with it (the paper keeps one arbitrary point
    * per extreme-similarity group; smallest-id is that choice made
    * deterministic). Returns the survivors as (id, centroid_id).
    *
    * Scale shape: the only joins are the broadcast centroid assignment
    * and a self-equi-join on `centroid_id` — shuffle linear in corpus
    * size, pair work quadratic only WITHIN a cell (bounded by cell
    * size: that is the clustering's job, and exactly the SemDeDup
    * design; AQE splits skewed cells). The drop-set anti-join keys on
    * the id — linear. No driver-side state.
    */
  def semanticDedup(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      tau: Double): DataFrame = {
    val assigned = Similarity.ivfAssign(vecs, idCol, vecCol, centroids)
    val a = assigned.as("a")
    val b = assigned.as("b")
    val dropped = a.join(b,
        col(s"a.centroid_id") === col(s"b.centroid_id") &&
        col(s"a.$idCol") > col(s"b.$idCol") &&
        cosineFast(col(s"a.$vecCol"), col(s"b.$vecCol")) >= lit(tau))
      .select(col(s"a.$idCol").as(idCol))
      .distinct()
    assigned.select(col(idCol), col("centroid_id"))
      .join(dropped, Seq(idCol), "left_anti")
  }

  /** Exact substring dedup — the third standard pretraining recipe
    * alongside document-level ([[exact]]) and line-level ([[dedupLines]])
    * dedup: corpus-wide removal of exact repeated WORD SPANS of length
    * >= `spanWords` across (and within) documents, keeping the first
    * occurrence (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better" — their ExactSubstr, re-expressed over
    * whitespace tokens so a SQL engine can replay it; the published form
    * runs on BPE tokens and a suffix array, a single-machine structure
    * that does not shard — the k-gram-hash inverted index below is the
    * distributed equivalent and is exactly the [[TextAnalysis
    * .winnowFingerprints]] machinery with w = 1, i.e. EVERY k-gram
    * fingerprinted instead of a winnowed sample, which the removal
    * semantics require).
    *
    * Semantics: tokenize on whitespace; hash every `spanWords`-gram; a
    * gram occurrence is removed unless it is the corpus-wide FIRST
    * occurrence of its hash (min (id, pos) — deterministic across
    * engines and reruns); a word is removed if ANY removed gram covers
    * it, so overlapping duplicated grams merge into maximal removed
    * spans positionally. Documents reassemble from surviving words with
    * single spaces (token-sequence rewrite, as in the paper). Output:
    * `(id, text_kept, n_words_kept, n_words_dropped)` — empty and
    * sub-`spanWords` documents pass through untouched.
    *
    * Scale shape (all shuffles linear in the gram table, NO pair
    * enumeration — this is the hot-fingerprint lesson applied by
    * construction): a gram shared by M occurrences costs O(M), never
    * O(M²), because candidate handling is an AGGREGATE
    * (`groupBy(hash).agg(count, min(struct(id, pos)))`, partial-
    * aggregable, hot hashes combine map-side) followed by a join-back
    * whose build side has ONE row per hash — the same skew-safe shape as
    * [[dedupLines]] step 3 (a hot gram skews only the probe side, which
    * AQE skew-splits; no `maxDocFreq` drop is needed because nothing
    * quadratic exists to cap — and unlike winnowing's overlap RANKING,
    * removal semantics could not tolerate dropping hot grams: a
    * million-fold-repeated license block is precisely what must go).
    * Removed-gram starts aggregate per doc (`sort_array(collect_list)`,
    * partial-aggregable, bounded by doc gram count), rejoin 1:1 on the
    * doc id, and a native one-pass walk
    * ([[graft.functions.SubstringRemoveExpr]]) merges covered intervals
    * and rewrites the text in O(words + starts) per doc — no coverage
    * explosion, no per-word join, no per-doc collect/sort. Gram hashing
    * is one native pass per doc ([[graft.functions.WordGramHash128Expr]]
    * — FULL 16-byte md5 keys, because removal deletes text on key
    * equality and 60-bit birthday collisions at the 10¹¹-10¹² grams this
    * targets would silently cut non-duplicate text) — O(words ×
    * spanWords) bytes digested, no UDF, no interpreted HOF lambdas.
    */
  def dedupSubstrings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanWords: Int = 20): DataFrame = {
    require(spanWords >= 2, "spanWords must be >= 2")
    val k = spanWords
    // materialize the token arrays: they feed BOTH the gram pass and the
    // final rewrite join, and the split/filter chain would otherwise
    // re-run over the scan for each — the same fan-out lesson (and the
    // same localCheckpoint-over-persist lifecycle choice) as
    // bigramSurprisal's transition rows
    // spread BEFORE tokenizing: the eager materialize freezes the
    // input's partitioning for every downstream consumer, and a
    // single-split local input would run the whole gram fan-out
    // (positional md5 per gram) serially (no-op at real scale)
    val toks = materialize(
      Spread.ifNarrow(docs.select(col(idCol), col(textCol)), col(idCol))
        .select(col(idCol),
          filter(split(col(textCol), "\\s+"), w => length(w) > 0)
            .as("__ws")))
    val grams = toks.filter(size(col("__ws")) >= k)
      .select(col(idCol),
        posexplode(wordGramHash128(col("__ws"), k)).as(Seq("__gpos", "__h")))
    val starts = removedGramStarts(grams, idCol)
    applyWordRemoval(toks, starts, idCol, k)
  }

  /** Shared rewrite assembly for the word-gram removal family
    * ([[dedupSubstrings]], [[scrubContaminatedSpans]], and the
    * substring index build/append): join the per-doc sorted removal
    * starts onto the token arrays, run the one-pass
    * [[graft.functions.SubstringRemoveExpr]] rewrite, project the
    * result struct. Two-step select so project-collapse keeps the
    * non-cheap walk evaluated once.
    */
  private[graft] def applyWordRemoval(
      toks: DataFrame,
      starts: DataFrame,
      idCol: String,
      k: Int): DataFrame =
    toks.join(starts, Seq(idCol), "left_outer")
      .select(col(idCol),
        substringRemove(col("__ws"), col("__starts"), k).as("__r"))
      .select(col(idCol),
        col("__r").getField("text_kept").as("text_kept"),
        col("__r").getField("n_words_kept").as("n_words_kept"),
        col("__r").getField("n_words_dropped").as("n_words_dropped"))

  /** Materialize a frame that several consumers read: an eager
    * `localCheckpoint` (it triggers the upstream job at call time and is
    * NON-RECOVERABLE on executor loss, the right trade because the
    * ContextCleaner frees the blocks once the frame is unreachable and
    * the returned lazy frame has no unpersist hook a `persist` would
    * need). Callers: [[Pipeline.curate]] (its rewrite and signature
    * boundaries) and the substring-dedup fan-out tables (token arrays +
    * positional grams).
    *
    * Spread rule: a checkpoint with fewer partitions than
    * `defaultParallelism` is re-spread by a round-robin
    * `repartition(defaultParallelism)`; a wider one is returned as is.
    * AQE coalesces a small shuffle (e.g. a few thousand docs after line
    * dedup) to ONE partition, and a checkpoint freezes that, so every
    * per-row stage after it would run as one task. The count comes from
    * the checkpointed RDD, so reading it runs no job; at scale the
    * checkpoint is already wide and nothing is added.
    */
  private[graft] def materialize(df: DataFrame): DataFrame = {
    val frozen = df.localCheckpoint()
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (frozen.queryExecution.toRdd.getNumPartitions < cores)
      frozen.repartition(cores)
    else frozen
  }

  /** The shared first-occurrence core of substring dedup: from positional
    * gram rows `(idCol, __gpos, __h)`, the per-document sorted starts of
    * every REMOVED gram occurrence (all but the corpus-wide first
    * occurrence of each duplicated hash) as `(idCol, __starts)`.
    *
    * The gram table is `localCheckpoint`ed first: it feeds both the
    * duplicate aggregate and the join-back, and without materialization
    * the upstream tokenize+hash pass would re-run per consumer — at
    * 100 TB that is ~2 extra corpus passes ([[dedupSubstrings]] was
    * shipped with exactly that defect in r11; this helper is where the
    * fix lives for every gram-space variant). Both shuffles stay linear
    * in the gram table and skew-safe (aggregate build side is one row
    * per hash).
    */
  private[graft] def removedGramStarts(grams: DataFrame, idCol: String): DataFrame =
    removedGramStartsMaterialized(materialize(grams), idCol)

  /** [[removedGramStarts]] over an ALREADY-materialized gram frame —
    * for callers that checkpoint the gram table themselves because
    * they have additional consumers (the substring index build writes
    * `grams/` from it): materializing the corpus-scale gram table
    * twice would double both the pass count and the block-storage
    * footprint of the largest intermediate on this path.
    */
  private[graft] def removedGramStartsMaterialized(
      g: DataFrame, idCol: String): DataFrame = {
    val dup = g.groupBy(col("__h"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col(idCol).as("__fid"), col("__gpos").as("__fpos")))
          .as("__f"))
      .filter(col("__c") >= 2)
      .select(col("__h"), col("__f"))
    g.join(dup, Seq("__h"))
      .filter(!(col("__f").getField("__fid") === col(idCol) &&
        col("__f").getField("__fpos") === col("__gpos")))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__gpos"))).as("__starts"))
  }

  /** Exact substring dedup over BPE TOKEN streams — [[dedupSubstrings]]
    * run the way Lee et al. 2022 publish it: k-grams over the token-id
    * sequences of [[TextAnalysis.tokenIdsBpe]] (same `merges`
    * vocabulary), removal spans in token space, text rebuilt from the
    * surviving tokens' byte strings ([[graft.functions
    * .BpeTokenRemoveExpr]] — byte-level tokens concatenate back to the
    * original bytes, so the rebuild is exact). This is the variant that
    * catches duplicated spans INSIDE unsegmented text — CJK, code,
    * concatenated boilerplate — where the whitespace form sees one
    * giant "word" and provably finds nothing (a no-whitespace repeat
    * never spans `spanWords` whitespace tokens).
    *
    * Semantics mirror the word form exactly, one level down: hash every
    * `spanTokens`-gram of token ids ([[graft.functions
    * .IntGramHash128Expr]], 16-byte collision-safe keys — removal
    * deletes on key equality, so 60 bits would silently cut
    * non-duplicate text at corpus scale); an occurrence is removed
    * unless it is the corpus-wide first (min (id, pos)); covered token
    * intervals merge positionally; documents shorter than `spanTokens`
    * tokens pass through untouched. Output `(id, text_kept,
    * n_tokens_kept, n_tokens_dropped)`.
    *
    * CAVEAT (invalid-UTF-8 seams): cuts are made in TOKEN space, as
    * published — when a removal boundary lands inside a multibyte
    * character whose bytes were never merged into one token, the kept
    * bytes around the cut can form an invalid UTF-8 seam in
    * `text_kept` (identical to detokenizing the paper's surviving
    * token stream; spec-pinned in OperatorsSpec). Spark carries such
    * bytes through unchanged, but downstream consumers that VALIDATE
    * UTF-8 (external writers, other engines) may mangle or reject
    * them — pass `scrubSeams = true` to drop the broken seam bytes in
    * the rewrite itself (identity on cut-free documents; token counts
    * unaffected), or re-tokenize at the sink boundary.
    *
    * Scale shape: identical to the word form (the aggregate-only
    * first-occurrence core is shared — [[removedGramStarts]]), with one
    * deliberate cost difference: the gram table has one row per TOKEN
    * (~4-5× the word count on natural text, 1× on unsegmented scripts),
    * which is the price of token-faithful spans and shuffles 16-byte
    * keys either way. Tokenization is one native indexed-walk pass per
    * document, materialized once (`localCheckpoint`) for the gram pass
    * and the rewrite join.
    */
  def dedupSubstringsBpe(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 50,
      merges: Seq[(String, String)] = graft.functions.Bpe.fixtureMerges,
      scrubSeams: Boolean = false)
      : DataFrame = {
    require(spanTokens >= 2, "spanTokens must be >= 2")
    val k = spanTokens
    // spread BEFORE tokenizing (see dedupSubstrings): serial gram
    // hashing on a single-split local input dominated this path
    val toks = materialize(
      Spread.ifNarrow(docs.select(col(idCol), col(textCol)), col(idCol))
        .select(col(idCol),
          bpeTokenIds(col(textCol), merges).as("__ids")))
    val grams = toks.filter(size(col("__ids")) >= k)
      .select(col(idCol),
        posexplode(intGramHash128(col("__ids"), k)).as(Seq("__gpos", "__h")))
    val starts = removedGramStarts(grams, idCol)
    toks.join(starts, Seq(idCol), "left_outer")
      .select(col(idCol),
        bpeTokenRemove(col("__ids"), col("__starts"), k, merges,
          scrubSeams).as("__r"))
      .select(col(idCol),
        col("__r").getField("text_kept").as("text_kept"),
        col("__r").getField("n_tokens_kept").as("n_tokens_kept"),
        col("__r").getField("n_tokens_dropped").as("n_tokens_dropped"))
  }
}
