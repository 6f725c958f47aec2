package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition every training-data
  * pipeline runs before a corpus reaches the trainer, owned as ONE
  * operator so stage ORDER is a reviewed decision instead of ad-hoc
  * glue. Stages (each individually oracle-gated elsewhere):
  *
  *  0. optional HTML → text extraction (`htmlInput` —
  *     [[TextAnalysis.extractHtmlText]]): crawled markup becomes prose
  *     BEFORE any gate reads the text, so the length gate measures
  *     content rather than tag soup and dedup hashes never see
  *     boilerplate markup. A pure per-row regexp chain, pipelined into
  *     the scan.
  *  1. length gate — the cheap per-row filter runs FIRST: at 100 TB,
  *     cutting empty/boilerplate docs before ANY shuffle is the largest
  *     single cost lever, and a pure `length(text)` predicate pipelines
  *     into the scan.
  *  1b. optional model-based quality gate (`qualityModel` — a trained
  *     [[Classifier.Model]]; docs scoring above `maxQualityScore`
  *     drop). Like the heuristic gate, a pure per-row expression that
  *     pipelines into the scan.
  *  2. optional line-level dedup ([[Dedup.dedupLines]], C4 recipe) —
  *     rewrites `textCol` to the surviving lines.
  *  2b. optional exact substring dedup (`substringDedup = "word"` →
  *     [[Dedup.dedupSubstrings]], `"bpe"` →
  *     [[Dedup.dedupSubstringsBpe]]) — removes every non-first
  *     occurrence of duplicated ≥span grams corpus-wide and rewrites
  *     `textCol`; fully-emptied docs drop. After line dedup (lines are
  *     cheaper), before the LSH (removed boilerplate spans stop
  *     polluting MinHash signatures).
  *  3. exact-normalized dedup, keep smallest id ([[Dedup.exactNormalized]])
  *     — one linear partial-aggregable shuffle.
  *  4. optional near-dup dedup by MinHash-LSH *bucket ownership*: a doc
  *     survives iff it has the smallest id in EVERY one of its band
  *     buckets — the same batch-expressible survivor rule the streaming
  *     near-dup gate uses. One groupBy over band rows (min is absorbed
  *     map-side, so a viral duplicate's hot bucket cannot strangle a
  *     task) + one anti join. More aggressive than pair+component
  *     survivor selection (a doc bridging two clusters drops); choose
  *     [[Dedup.dropNearDuplicateClusters]] when cluster-level survivor
  *     policy matters more than a single-pass plan.
  *  2c. optional SURGICAL decontamination (`scrubProbeNgrams` + probe —
  *     [[Dedup.scrubContaminatedSpans]], the GPT-3 App. C span-removal
  *     form): quoted eval spans are cut out and the doc survives;
  *     replaces stage 5's drop. Runs with the rewrite stages so the
  *     dedups hash the scrubbed text.
  *  5. optional decontamination against an eval probe
  *     ([[Dedup.decontaminate]] — probe buckets broadcast).
  *  6. deterministic split assignment ([[Sampling.assignSplit]]) —
  *     stateless id-hash ranges, LAST so a surviving doc keeps its split
  *     across reruns and upstream config changes.
  *
  * Dedup precedes decontamination so bucket stats are computed once on
  * the smaller deduped corpus; both precede split assignment so splits
  * never reference dropped docs.
  */
object Pipeline {

  def curate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      probe: Option[DataFrame] = None,
      htmlInput: Boolean = false,
      urlCol: String = "",
      blockedHosts: Seq[String] = Nil,
      maxDocsPerHost: Int = 0,
      minChars: Int = 1,
      maxChars: Int = Int.MaxValue,
      qualityFilter: Boolean = false,
      maxRepetition: Double = 0.3,
      maxSymbolRatio: Double = 0.2,
      entropyRange: (Double, Double) = (0.0, Double.MaxValue),
      allowedScripts: Seq[String] = Nil,
      qualityModel: Option[Classifier.Model] = None,
      maxQualityScore: Double = 1.0,
      stripBoilerplate: Boolean = false,
      dedupLines: Boolean = false,
      substringDedup: String = "off",
      substringSpan: Int = 0,
      substringMerges: Seq[(String, String)] =
        graft.functions.Bpe.fixtureMerges,
      nearDup: Boolean = false,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      maxGramExposure: Double = 1.0,
      exposureNgrams: Int = 13,
      decontaminateExactNgrams: Int = 0,
      scrubProbeNgrams: Int = 0,
      ccnetBucketBy: String = "",
      ccnetKeep: Seq[String] = Seq("head", "middle"),
      semanticVecs: Option[DataFrame] = None,
      semanticVecCol: String = "embedding",
      semanticCentroids: Option[DataFrame] = None,
      semanticTau: Double = 0.3,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      stageFrames: Option[scala.collection.mutable.Buffer[(String, DataFrame)]]
        = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(Set("off", "word", "bpe")(substringDedup),
      s"substringDedup must be off|word|bpe, got '$substringDedup'")
    // observability hook ([[curateReport]]): snapshot the surviving
    // frame after each ROW-DROPPING stage (pure rewrites don't change
    // counts and are not snapped) — the funnel is computed off the SAME
    // frames the pipeline runs, so report and pipeline cannot drift
    def snap(name: String, f: DataFrame): Unit =
      stageFrames.foreach(_ += name -> f.drop(Bands))
    snap("input", docs)
    // stage -1: URL/domain gating before anything reads the TEXT (the
    // RefinedWeb §3.1 order — document-level URL rules are the
    // cheapest gate a crawl pipeline has, so blocked sites pay for
    // nothing downstream): a blocklisted registered host (or any
    // subdomain of one) drops, then an optional per-host cap keeps the
    // `maxDocsPerHost` smallest-id-hash docs of each host — the
    // deterministic per-site quota that stops a single domain
    // dominating the mix, selected by the bounded-heap
    // [[Sampling.sampleExactPerStratum]] so a hot host collapses to
    // ≤ cap entries per map task, never a skewed sort.
    var pre = docs
    if (blockedHosts.nonEmpty || maxDocsPerHost > 0) {
      require(urlCol.nonEmpty,
        "domain gating (blockedHosts/maxDocsPerHost) needs urlCol")
      val host = TextAnalysis.urlHost(col(urlCol))
      if (blockedHosts.nonEmpty) {
        val hit = blockedHosts.map(_.toLowerCase)
          .foldLeft(lit(false)) { (acc, b) =>
            acc || host === lit(b) || host.endsWith(lit("." + b))
          }
        // null url → null hit → coalesce keeps the row: a blocklist
        // must only drop MATCHED hosts, consistent with the cap path
        // treating a null host as a real stratum (silently deleting
        // every url-less row when a 2-host blocklist is enabled is the
        // failure mode this guards)
        pre = pre.filter(!coalesce(hit, lit(false)))
        snap("domain_blocklist", pre)
      }
      if (maxDocsPerHost > 0) {
        // cap only rows with a PARSEABLE host: a null url (host null)
        // or an unparseable one (regexp host '') is not a site, and
        // pooling every url-less doc into one capped pseudo-host would
        // silently decimate them — pass them through, consistent with
        // the blocklist's null-keep policy above
        val hosted = pre.select(col(idCol), host.as("__host"))
          .filter(col("__host").isNotNull && col("__host") =!= "")
        val keep = Sampling.sampleExactPerStratum(
            hosted, idCol, "__host", maxDocsPerHost)
          .select(col(idCol))
        val hostless = coalesce(host, lit("")) === ""
        pre = pre.join(keep, Seq(idCol), "left_semi")
          .unionByName(pre.filter(hostless))
        snap("domain_cap", pre)
      }
    }
    val len = length(col(textCol))
    // stage 0: markup → prose before anything reads the text (the
    // length gate below must measure content, not tags)
    val src = if (htmlInput)
      pre.withColumn(textCol, TextAnalysis.extractHtmlText(col(textCol)))
    else pre
    var d = src.filter(len >= minChars && len <= maxChars)
    snap("length_gate", d)
    // quality gating right after the length gate: a pure per-row
    // predicate (same expressions as TextAnalysis.qualityFlags), so it
    // pipelines into the scan and shrinks everything downstream —
    // repetition-heavy and symbol-heavy junk never reaches the dedups
    if (qualityFilter) {
      val (rep, sym) = TextAnalysis.qualityRatios(col(textCol))
      d = d.filter(rep <= maxRepetition && sym <= maxSymbolRatio)
      snap("quality_gate", d)
    }
    // entropy gate beside the other per-row heuristics: the codegen'd
    // code-point-entropy expression pipelines into the scan; both ends
    // of the range are junk signals (near-zero = repeated filler,
    // anomalously high = random/binary-in-text)
    if (entropyRange._1 > 0.0 || entropyRange._2 < Double.MaxValue) {
      val ent = graft.functions.TextFunctions.charEntropy(col(textCol))
      d = d.filter(ent >= entropyRange._1 && ent <= entropyRange._2)
      snap("entropy_gate", d)
    }
    // script routing beside the other per-row gates: keep only docs
    // whose DOMINANT script is allow-listed (a corpus targeting a
    // Latin-alphabet model drops CJK/Cyrillic here, before any
    // tokenizer or n-gram model sees them); the label join is against
    // scriptRatios' per-row expressions, so this too pipelines
    if (allowedScripts.nonEmpty) {
      val lbl = TextAnalysis.scriptRatios(
        d.select(col(idCol), col(textCol)), idCol, textCol)
        .filter(col("script").isInCollection(allowedScripts))
        .select(col(idCol))
      d = d.join(lbl, Seq(idCol), "left_semi")
      snap("script_gate", d)
    }
    // model-based quality gating (the DCLM/fastText filter deployment):
    // a TRAINED [[Classifier.Model]]'s score is a pure per-row
    // expression, so like the heuristic gate above it pipelines into
    // the scan — docs scoring above `maxQualityScore` (model convention:
    // higher = junkier) never reach a shuffle
    qualityModel.foreach { m =>
      d = d.filter(
        Classifier.scoreColumn(col(textCol), m) <= maxQualityScore)
      snap("classifier_gate", d)
    }
    // boilerplate stripping before the dedups: junk lines would otherwise
    // pollute content hashes and MinHash shingles
    if (stripBoilerplate)
      d = TextAnalysis.stripBoilerplateLines(d, idCol, textCol)
        .select(col(idCol), col("text_clean").as(textCol))
    // a doc whose every line repeats an earlier doc's is emptied, and
    // is dropped like the substring and scrub stages' empties below
    if (dedupLines)
      d = Dedup.dedupLines(d, idCol, textCol)
        .filter(length(col("text_kept")) > 0)
        .select(col(idCol), col("text_kept").as(textCol))
    // exact substring dedup AFTER line dedup (line dedup removes whole
    // duplicated lines cheaply; the gram pass then only pays for what
    // survives) and BEFORE the near-dup LSH (removing boilerplate spans
    // first stops them dominating MinHash signatures — Lee et al. 2022
    // report exactly this ordering). "word" = whitespace grams
    // (Dedup.dedupSubstrings), "bpe" = token-level grams under
    // `substringMerges` (Dedup.dedupSubstringsBpe — the form that
    // catches repeats inside unsegmented CJK/code text). Documents
    // whose every token was removed (exact copies of an earlier doc)
    // are dropped, not kept as empties.
    if (substringDedup != "off") {
      val rewritten = substringDedup match {
        case "word" => Dedup.dedupSubstrings(d, idCol, textCol,
          if (substringSpan > 0) substringSpan else 20)
        case _ => Dedup.dedupSubstringsBpe(d, idCol, textCol,
          if (substringSpan > 0) substringSpan else 50, substringMerges)
      }
      d = rewritten.filter(length(col("text_kept")) > 0)
        .select(col(idCol), col("text_kept").as(textCol))
      snap("substring_dedup", d)
    }
    // SURGICAL decontamination (`scrubProbeNgrams > 0` + a probe): the
    // GPT-3 App. C span-removal form REPLACES the drop-stage below —
    // quoted eval spans are cut out and the scrubbed doc survives. It
    // runs WITH the rewrite stages (not at the drop stage's position
    // after dedup) so exact/near-dup hashes are computed over the
    // scrubbed text: two docs differing only in a quoted benchmark
    // passage dedup correctly, and a doc emptied by the scrub drops
    // here instead of polluting the dedup with "" rows.
    if (scrubProbeNgrams > 0) probe.foreach { p =>
      d = Dedup.scrubContaminatedSpans(d, p, idCol, textCol,
          n = scrubProbeNgrams)
        .filter(length(col("text_kept")) > 0)
        .select(col(idCol), col("text_kept").as(textCol))
      snap("decontaminate_scrub", d)
    }
    // Materialization boundary. The rewrite stages above are expensive
    // per-row chains, and from here the frame fans out to several
    // independent consumers (the exact-dedup aggregate, its semi join
    // back, near-dup owners and losers, decontamination): left lazy,
    // EACH branch re-runs the rewrites over the scan — measured 2.8x
    // wall on the 10x stress corpus. [[Dedup.materialize]] checkpoints
    // and re-spreads a checkpoint narrower than `defaultParallelism`:
    // AQE coalesces a small rewrite's shuffle to one partition, and
    // frozen there every per-row stage below would run as one task.
    // A localCheckpoint, not a persist, because the returned lazy frame
    // has no unpersist hook: a persist here would pin a CacheManager
    // entry per curate() call.
    //
    // With near-dup on, the word-band signature is computed ONCE per
    // document, here: on the final text (after every rewrite, so removed
    // boilerplate never shapes it) and after the spread (Spread.ifNarrow
    // covers a narrow file input with no rewrite stage), then
    // checkpointed with the frame as `__bands`. Near-dup's owners and
    // losers and the band decontamination explode it instead of
    // re-deriving it — three signature evaluations per document become
    // one. Band decontamination alone has one consumer of the signature,
    // so it computes it lazily in [[Dedup.decontaminate]] instead: an
    // eager checkpoint there only added a job (measured on the
    // `curate_pipeline` gate at sf0.1 on 4 cores: 0.66 → 1.0-1.3 s).
    // `__bands` never leaves curate: snapshots and the output drop it.
    if (htmlInput || stripBoilerplate || dedupLines ||
        substringDedup != "off" || (scrubProbeNgrams > 0 && probe.isDefined))
      d = Dedup.materialize(d)
    if (nearDup)
      d = Dedup.materialize(Spread.ifNarrow(d, col(idCol)).withColumn(Bands,
        Dedup.wordBands(col(textCol), shingleN, numHashes, bands)))
    val keepExact = Dedup.exactNormalized(d, idCol, textCol)
      .select(col("keep_id").as(idCol))
    d = d.join(keepExact, Seq(idCol), "left_semi")
    snap("exact_dedup", d)
    // memorization-exposure gate ON THE EXACT-DEDUP SURVIVORS (an
    // exact-dup family collapses to one doc first, so its survivor is
    // judged only against genuinely OTHER text): docs whose shared-
    // 13-gram position fraction exceeds the cap are mostly recycled
    // spans and drop whole — the doc-level policy complement of the
    // substring REWRITE stage above (that trims spans; this drops
    // recycled documents outright)
    if (maxGramExposure < 1.0) {
      val keepLow = Dedup.crossDocGramExposure(
          d, idCol, textCol, exposureNgrams)
        .filter(col("exposure") <= maxGramExposure)
        .select(col(idCol))
      d = d.join(keepLow, Seq(idCol), "left_semi")
      snap("gram_exposure_gate", d)
    }
    // CCNet LM gate (`ccnetBucketBy` names the grouping column, e.g.
    // lang): per-group perplexity terciles computed ON THE DEDUPED
    // SURVIVORS — the paper's stage order (dedup, then LM filter, so
    // boilerplate mass cannot skew the terciles) — keeping `ccnetKeep`
    // buckets (default head+middle, the published recipe). The LM and
    // thresholds train on the surviving corpus itself here; for a
    // frozen reference LM score outside curate with
    // [[TextAnalysis.qualityBucketScore]]. The grouping column is
    // joined back from the INPUT frame when a rewrite stage dropped it;
    // wordless docs have no surprisal and drop with the tail.
    if (ccnetBucketBy.nonEmpty) {
      require(ccnetKeep.nonEmpty, "ccnetKeep must name at least one bucket")
      val withBy =
        if (d.columns.contains(ccnetBucketBy)) d
        else d.join(docs.select(col(idCol), col(ccnetBucketBy)), Seq(idCol))
      val keep = TextAnalysis.qualityBuckets(
          withBy, idCol, textCol, ccnetBucketBy)
        .filter(col("bucket").isInCollection(ccnetKeep))
        .select(col(idCol))
      d = d.join(keep, Seq(idCol), "left_semi")
      snap("ccnet_gate", d)
    }
    // SemDeDup stage (`semanticVecs` keyed by idCol + frozen
    // `semanticCentroids`): embedding-space near-duplicate removal over
    // the EXACT-DEDUP SURVIVORS — the paper's deployment (exact dedup
    // first, then semantic within clusters; Abbas et al. 2023). Runs on
    // the vectors of surviving docs only, so a doc already dropped
    // upstream cannot shadow a semantic neighbor. Docs WITHOUT a vector
    // pass through (they cannot be judged — drop them upstream if
    // missing embeddings should be fatal). Complements rather than
    // replaces the lexical `nearDup` stage: MinHash catches re-worded
    // boilerplate only when tokens overlap; cosine catches paraphrases.
    semanticVecs.foreach { emb =>
      val cents = semanticCentroids.getOrElse(throw new
          IllegalArgumentException(
            "semanticVecs needs semanticCentroids (a frozen quantizer)"))
      val sub = emb.join(d.select(col(idCol)), Seq(idCol), "left_semi")
      val keep = Dedup.semanticDedup(sub, idCol, semanticVecCol,
        cents, semanticTau).select(col(idCol))
      val droppedIds = sub.select(col(idCol))
        .join(keep, Seq(idCol), "left_anti")
      d = d.join(droppedIds, Seq(idCol), "left_anti")
      snap("semantic_dedup", d)
    }
    if (nearDup) {
      val bandRows = Dedup.bandRows(d, idCol, col(Bands))
      val owners = bandRows.groupBy(col("band"), col("bucket"))
        .agg(min(col(idCol)).as("__owner"))
      val losers = bandRows.join(owners, Seq("band", "bucket"))
        .filter(col("__owner") < col(idCol))
        .select(col(idCol)).distinct()
      d = d.join(losers, Seq(idCol), "left_anti")
      snap("near_dup", d)
    }
    if (scrubProbeNgrams == 0) probe.foreach { p =>
      // decontaminateExactNgrams > 0 selects the EXACT n-gram recipe
      // (GPT-3/Pile — drop on one shared verbatim n-gram) instead of
      // the MinHash-band near-overlap form; both broadcast the probe
      // (the scrub stage above replaces this drop when selected)
      d =
        if (decontaminateExactNgrams > 0)
          Dedup.decontaminateExact(d, p, idCol, textCol,
            n = decontaminateExactNgrams)
        else if (nearDup)
          Dedup.decontaminateBands(d, Dedup.bandRows(d, idCol, col(Bands)),
            Dedup.wordBandBucketRows(p, idCol, textCol, shingleN, numHashes,
              bands),
            idCol)
        else Dedup.decontaminate(d, p, idCol, textCol, shingleN,
          numHashes, bands)
      snap("decontaminate", d)
    }
    Sampling.assignSplit(d.drop(Bands), idCol, splits)
  }

  /** [[curate]]'s per-document word-band signature column. */
  private val Bands = "__bands"

  /** Corpus datasheet — the headline numbers a dataset card publishes
    * (Gebru et al. 2021 "Datasheets for Datasets"): total documents,
    * total BPE tokens, approximate distinct texts AND distinct ids
    * (the HLL sketches — exact distincts would be corpus-wide shuffles
    * for single scalars; `distinct_id_estimate` ≪ `docs_total` flags an
    * id-collision bug upstream), and per-`byCol` document counts, as
    * one long frame `(metric, value)`; a null group labels as
    * `docs_by:<null>` (groupBy keeps it — same both engines).
    * Complements [[curateReport]]: that is the FUNNEL (what each
    * curation stage removed), this is the INVENTORY of whatever frame
    * it is pointed at — input corpus, curate output, or any stage in
    * between. Every component is partial-aggregable; the sketches
    * bound their exchanges at 2^p rows per partition.
    */
  def datasheet(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      byCol: String,
      p: Int = 12,
      merges: Seq[(String, String)] = graft.functions.Bpe.fixtureMerges)
      : DataFrame = {
    val totals = docs
      .agg(count(lit(1)).cast("double").as("__docs"),
        sum(graft.functions.TextFunctions.bpeTokenCount(col(textCol), merges))
          .cast("double").as("__tokens"))
      .select(explode(array(
        struct(lit("docs_total").as("metric"), col("__docs").as("value")),
        struct(lit("tokens_total_bpe").as("metric"),
          col("__tokens").as("value")))).as("__kv"))
      .select(col("__kv.metric").as("metric"), col("__kv.value").as("value"))
    val distinctText = graft.operators.Sketches
      .distinctApprox(docs, col(textCol), p)
      .select(lit("distinct_text_estimate").as("metric"),
        col("estimate").as("value"))
    val distinctIds = graft.operators.Sketches
      .distinctApprox(docs, col(idCol), p)
      .select(lit("distinct_id_estimate").as("metric"),
        col("estimate").as("value"))
    val byGroup = docs.groupBy(col(byCol))
      .agg(count(lit(1)).cast("double").as("value"))
      .select(concat(lit("docs_by:"),
          coalesce(col(byCol).cast("string"), lit("<null>")))
        .as("metric"), col("value"))
    totals.unionByName(distinctText).unionByName(distinctIds)
      .unionByName(byGroup)
  }

  /** Curation funnel report — the per-stage survivor counts a corpus
    * datasheet publishes (how many documents each gate/dedup/
    * decontamination stage removed), computed off the SAME frames the
    * pipeline runs so report and pipeline cannot drift. Call with any
    * [[curate]] configuration by threading the collector:
    *
    * {{{
    * val funnel = Pipeline.curateReport { buf =>
    *   Pipeline.curate(docs, "id", "text", probe = Some(p),
    *     minChars = 250, decontaminateExactNgrams = 13,
    *     stageFrames = Some(buf))
    * }
    * // => (stage_order, stage, n_rows): input, length_gate,
    * //    exact_dedup, decontaminate, output
    * }}}
    *
    * Returns one row per ROW-DROPPING stage (rewrite-only stages keep
    * counts and are not snapped) plus `input` and `output`. Each stage
    * row is a global `count` — partial-aggregable, one combined row
    * per task. COST: [[curate]]'s materialization boundary sits after
    * its rewrite stages, and exists whenever a rewrite stage or near-dup
    * is on. Every snapped
    * frame AFTER it reads the checkpoint (the signature is not
    * recomputed: snaps only project `__bands` away). Every snapped
    * frame BEFORE it re-runs the scan and the per-row chains up to its
    * stage, so with the gate stages enabled the report costs roughly
    * one extra PREFIX pass per pre-boundary snap — e.g. four gate
    * stages ≈ 4 scan+filter passes, cheap; but with expensive
    * pre-boundary rewrites (classifier scoring, substring/scrub
    * chains) budget accordingly. A diagnostic to run alongside a
    * backfill, not in the ingest hot path.
    */
  def curateReport(
      run: scala.collection.mutable.Buffer[(String, DataFrame)] => DataFrame)
      : DataFrame = {
    val buf = scala.collection.mutable.Buffer.empty[(String, DataFrame)]
    val out = run(buf)
    buf += ("output" -> out)
    buf.zipWithIndex.map { case ((name, f), i) =>
      f.groupBy().agg(count(lit(1)).as("n_rows"))
        .select(lit(i).as("stage_order"), lit(name).as("stage"),
          col("n_rows"))
    }.reduce(_ union _)
  }

  /** Per-domain corpus accounting — the per-site table behind
    * [[curate]]'s domain gates (which hosts dominate, which to
    * blocklist, where a per-host cap would bite): one row per
    * registered host ([[TextAnalysis.urlHost]]) with its doc count,
    * character mass, and share of the corpus. One partial-aggregable
    * pass; the share window runs over host-TYPE rows (bounded by the
    * web's registered-domain count), never corpus rows.
    */
  def domainReport(
      docs: DataFrame, urlCol: String, textCol: String): DataFrame = {
    val perHost = docs
      .select(TextAnalysis.urlHost(col(urlCol)).as("host"),
        length(col(textCol)).cast("long").as("__len"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__len")).as("n_chars"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    perHost.select(col("host"), col("n_docs"), col("n_chars"),
      round(col("n_docs").cast("double") /
        sum(col("n_docs")).over(w), 6).as("doc_share"))
  }

  /** [[curate]]'s INGEST-TIME sibling: the same stage order, composed
    * from the stages that run on an unbounded stream — so one reviewed
    * pipeline governs both the backfill (batch `curate`) and the live
    * crawl ingest, instead of two drifting implementations.
    *
    *  1.  length gate, 1b. heuristic quality gate, 1c. trained-model
    *      quality gate — pure per-row predicates, identical expressions
    *      to [[curate]]'s, pipelined into the stream scan;
    *  2.  exact-normalized dedup — `dropDuplicates` on
    *      [[Dedup.normalizedHash]] (keyed state = one entry per
    *      distinct hash, unbounded: every dup is dropped, however late
    *      it arrives);
    *  3.  decontamination — stateless predicates whose probe collapsed
    *      to a literal ([[graft.streaming.StreamingDedup
    *      .bandDecontaminateKeep]] / `exactGramDecontaminateKeep`);
    *  4.  split assignment — stateless id-hash, last, as in [[curate]].
    *
    * Omitted vs [[curate]]: the corpus-rewrite stages (line/substring
    * dedup need corpus-wide first-occurrence state — batch work) and
    * LSH near-dup (its streaming form, [[graft.streaming.StreamingDedup
    * .nearDupStream]], needs event-time staging and its own
    * correctness acknowledgment — compose it explicitly when wanted).
    *
    * WHICH row of an exact-dup family survives is arrival-order
    * dependent (first seen wins, vs batch `curate`'s min-id) — but
    * every stage after the dedup is invariant to the choice: the
    * normalized hash is the family key, and both decontamination
    * predicates read only the normalized word sequence, which all
    * family members share. The kept HASH set therefore equals the
    * batch composition's exactly — what the `streaming_curate` gate
    * pins. Output: surviving rows + `text_hash` + `split`.
    */
  def curateStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      probe: Option[DataFrame] = None,
      probeTextCol: String = "text",
      urlCol: String = "",
      blockedHosts: Seq[String] = Nil,
      minChars: Int = 1,
      maxChars: Int = Int.MaxValue,
      qualityFilter: Boolean = false,
      maxRepetition: Double = 0.3,
      maxSymbolRatio: Double = 0.2,
      entropyRange: (Double, Double) = (0.0, Double.MaxValue),
      allowedScripts: Seq[String] = Nil,
      qualityModel: Option[Classifier.Model] = None,
      maxQualityScore: Double = 1.0,
      exactDedup: Boolean = true,
      decontaminateExactNgrams: Int = 0,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // domain blocklist first, mirroring [[curate]]'s stage order — a
    // pure per-row predicate, so it streams statelessly. The per-host
    // CAP deliberately has no stream form: an exact smallest-hash-per-
    // host quota over an unbounded stream is global state; cap at the
    // batch backfill ([[curate]]) or bound ingest per host upstream.
    var d = docs
    if (blockedHosts.nonEmpty) {
      require(urlCol.nonEmpty, "domain gating needs urlCol")
      val host = TextAnalysis.urlHost(col(urlCol))
      val hit = blockedHosts.map(_.toLowerCase)
        .foldLeft(lit(false)) { (acc, b) =>
          acc || host === lit(b) || host.endsWith(lit("." + b))
        }
      // null url keeps (see curate's blocklist stage)
      d = d.filter(!coalesce(hit, lit(false)))
    }
    val len = length(col(textCol))
    d = d.filter(len >= minChars && len <= maxChars)
    if (qualityFilter) {
      val (rep, sym) = TextAnalysis.qualityRatios(col(textCol))
      d = d.filter(rep <= maxRepetition && sym <= maxSymbolRatio)
    }
    // entropy gate: stateless per-row expression, streams like the
    // heuristics above (the exposure CAP deliberately has no stream
    // form - cross-doc gram counts over an unbounded stream are
    // global state; cap at the batch backfill)
    if (entropyRange._1 > 0.0 || entropyRange._2 < Double.MaxValue) {
      val ent = graft.functions.TextFunctions.charEntropy(col(textCol))
      d = d.filter(ent >= entropyRange._1 && ent <= entropyRange._2)
    }
    // script routing, stateless like the batch funnel's: the dominant-
    // script label is a pure per-row expression chain (the SHARED
    // scriptLabelFrom/scriptCount definitions — the batch gate and the
    // stream cannot drift), so a stream keeps only allow-listed
    // scripts with no state
    if (allowedScripts.nonEmpty) {
      val t = col(textCol)
      val label = TextAnalysis.scriptLabelFrom(
        TextAnalysis.scriptNonWs(t),
        TextAnalysis.scriptCount(t, "Latin"),
        TextAnalysis.scriptCount(t, "Cyrillic"),
        TextAnalysis.scriptCount(t, "Han", "Hiragana", "Katakana",
          "Hangul"),
        TextAnalysis.scriptCount(t, "Arabic"))
      d = d.filter(label.isInCollection(allowedScripts))
    }
    qualityModel.foreach { m =>
      d = d.filter(
        Classifier.scoreColumn(col(textCol), m) <= maxQualityScore)
    }
    if (exactDedup) {
      d = d.withColumn("text_hash", Dedup.normalizedHash(col(textCol)))
        .dropDuplicates("text_hash")
    }
    probe.foreach { p =>
      d = d.filter(
        if (decontaminateExactNgrams > 0)
          graft.streaming.StreamingDedup.exactGramDecontaminateKeep(
            p, probeTextCol, col(textCol), decontaminateExactNgrams)
        else graft.streaming.StreamingDedup.bandDecontaminateKeep(
          p, probeTextCol, col(textCol), shingleN, numHashes, bands))
    }
    Sampling.assignSplit(d, idCol, splits)
  }

  /** [[curate]]'s multimodal sibling — the crawl-media composition:
    * size gate → optional decodability gate → exact content dedup →
    * byte-shingle near-dup ownership → optional perceptual (dHash)
    * ownership → normalized metadata ([[Multimodal.describe]]). Stage
    * order mirrors [[curate]]'s reasoning: the byte-length predicate
    * pipelines into the scan before anything shuffles; both dedups are
    * bucket-OWNERSHIP rules (one partial-aggregable min per bucket + an
    * anti join — never pair enumeration, so a million-copy meme family
    * costs one combined row per bucket, not 10^12 pairs); the header
    * walks that produce metadata run once over the surviving rows only.
    *
    * The perceptual pass complements the byte pass exactly as
    * [[Multimodal.perceptualDupPairs]] complements
    * [[Multimodal.nearDupPairs]]: byte shingles drop re-hosted copies of
    * the same BYTES, dHash bands drop re-encodes of the same PICTURE;
    * payloads dHash cannot decode are exempt from the perceptual rule.
    * With `requireDecodable` the describe chain runs twice (once as the
    * gate, once over survivors) — two cheap stateless per-row walks, no
    * extra shuffle.
    *
    * Output: one [[Multimodal.describe]] metadata row per surviving
    * payload.
    */
  def curateMedia(
      df: DataFrame,
      idCol: String,
      payloadCol: String = "payload",
      minBytes: Long = 1L,
      maxBytes: Long = Long.MaxValue,
      requireDecodable: Boolean = false,
      byteN: Int = 8,
      numHashes: Int = 16,
      bands: Int = 8,
      perceptual: Boolean = false,
      dhashBands: Int = 4,
      perceptualHash: String = "dhash"): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    import graft.functions.TextFunctions.{byteShingleHashes, minhashBuckets}
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(dhashBands > 0 && 64 % dhashBands == 0,
      "dhashBands must divide 64")
    val p = col(payloadCol).cast(BinaryType)
    val len = octet_length(p)
    var d = df.select(col(idCol), col(payloadCol))
      .filter(len >= minBytes && len <= maxBytes)
    if (requireDecodable)
      d = d.join(
        Multimodal.describe(d, idCol, payloadCol)
          .filter(col("kind").isNotNull).select(col(idCol)),
        Seq(idCol), "left_semi")
    // exact content dedup: hash groups keep their smallest id
    val keepExact = d
      .groupBy(md5(p).as("__ph"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    d = d.join(keepExact, Seq(idCol), "left_semi")
    // byte-shingle MinHash bucket ownership
    val bandRows = d.select(col(idCol),
        posexplode(minhashBuckets(byteShingleHashes(p, byteN),
          numHashes, bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    val owners = bandRows.groupBy(col("band"), col("bucket"))
      .agg(min(col(idCol)).as("__owner"))
    val losers = bandRows.join(owners, Seq("band", "bucket"))
      .filter(col("__owner") < col(idCol))
      .select(col(idCol)).distinct()
    d = d.join(losers, Seq(idCol), "left_anti")
    if (perceptual) {
      require(perceptualHash == "dhash" || perceptualHash == "phash",
        s"perceptualHash must be dhash|phash, got $perceptualHash")
      val bw = 64 / dhashBands
      // 1L << 64 wraps (JVM shift mod 64): full-width band needs -1L
      val mask = if (bw == 64) -1L else (1L << bw) - 1
      val hashFn =
        if (perceptualHash == "phash")
          graft.functions.ImageFunctions.phash _
        else graft.functions.ImageFunctions.dhash _
      val hashed = d.select(col(idCol), hashFn(p).as("__dh"))
        .filter(col("__dh").isNotNull)
      val pBands = hashed.select(col(idCol),
          posexplode(array((0 until dhashBands).map(b =>
            shiftright(col("__dh"), b * bw).bitwiseAND(lit(mask))): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "band_bits")
      val pOwners = pBands.groupBy(col("band"), col("band_bits"))
        .agg(min(col(idCol)).as("__owner"))
      val pLosers = pBands.join(pOwners, Seq("band", "band_bits"))
        .filter(col("__owner") < col(idCol))
        .select(col(idCol)).distinct()
      d = d.join(pLosers, Seq(idCol), "left_anti")
    }
    Multimodal.describe(d, idCol, payloadCol)
  }
}
