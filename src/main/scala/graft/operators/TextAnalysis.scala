package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Text-analysis operators for training-data curation: quality stats,
  * heuristic language id, token counting, and content fingerprinting.
  * All pure column expressions — one codegen'd pass per document, no
  * UDFs, no shuffles.
  */
object TextAnalysis {

  /** Small fixed stopword lists for the n-gram/stopword language-id
    * heuristic. Deterministic and oracle-reproducible; a production
    * model would plug in here behind the same column contract.
    */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"),
    "es" -> Seq("el", "los", "las", "y", "un", "una", "es", "en", "por", "que"),
    "fr" -> Seq("le", "la", "les", "et", "un", "une", "est", "pour", "dans", "que"))

  /** All languages' stopword-hit counts in one native pass over the word
    * array ([[graft.functions.StopwordScoresExpr]] — the `filter`-HOF
    * form runs an interpreted lambda per word per language).
    */
  private def stopwordScores(ws: Column, langs: Seq[String]): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(graft.functions.StopwordScoresExpr(
      toExpression(ws), langs.map(Stopwords)))
  }

  /** Per-document quality stats: char count, word count, average word
    * length, distinct-word ratio, stopword ratio (en).
    */
  def stats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val txt = col(textCol)
    val ws = words(txt)
    docs.select(
      col(idCol),
      length(txt).as("n_chars_m"),
      size(ws).as("n_words"),
      round(length(regexp_replace(txt, "\\s+", "")).cast("double") / size(ws), 6)
        .as("avg_word_len"),
      round(size(array_distinct(ws)).cast("double") / size(ws), 6)
        .as("distinct_ratio"),
      round(stopwordScores(ws, Seq("en")).getItem(0).cast("double") / size(ws), 6)
        .as("stopword_ratio"))
  }

  /** Heuristic language id: stopword-hit counts per language; the
    * prediction is the highest-scoring language in a fixed priority
    * order (en, de, es, fr), `und` when nothing matches. One native pass
    * computes all four scores (the score-array alias is consumed four
    * times — exactly the case project-collapse refuses to inline).
    */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val langs = Seq("en", "de", "es", "fr")
    val scored = docs
      .select(col(idCol),
        stopwordScores(words(col(textCol)), langs).as("__scores"))
      .select((col(idCol) +: langs.zipWithIndex.map { case (l, i) =>
        col("__scores").getItem(i).as(s"score_$l")
      }): _*)
    val best = greatest(col("score_en"), col("score_de"),
      col("score_es"), col("score_fr"))
    scored.withColumn("pred_lang",
      when(best === 0, lit("und"))
        .when(col("score_en") === best, lit("en"))
        .when(col("score_de") === best, lit("de"))
        .when(col("score_es") === best, lit("es"))
        .otherwise(lit("fr")))
  }

  /** TRAINED language-ID, profile half — the TextCat/naive-Bayes recipe
    * (Cavnar & Trenkle 1994's char-n-gram profiles with NB scoring, the
    * shape fastText's langid simplifies): per-language DOCUMENT
    * frequencies of distinct char trigrams over a LABELED corpus,
    * capped to the `topK` most frequent grams per language
    * (deterministic `(cnt DESC, gram ASC)` order). Complements the
    * fixed-stopword heuristic [[langId]] with a model learned from the
    * pipeline's own labeled slice.
    *
    * Scale shape: one native shingle pass + ONE partial-aggregable
    * `groupBy(lang, gram).count` (hot boilerplate grams combine
    * map-side); the cap window runs over gram TYPE rows — bounded by
    * charset³ per language, never corpus-sized — so its per-language
    * partitions cannot be hot. Output `(lang, gram, cnt)`,
    * ≤ topK·|langs| rows: broadcastable by construction.
    */
  def langIdTrain(
      docs: DataFrame,
      textCol: String,
      langCol: String,
      topK: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK > 0, "topK must be positive")
    val counts = docs.select(col(langCol).as("lang"),
        explode(charShingles(lower(col(textCol)), 3)).as("gram"))
      .groupBy(col("lang"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("gram").asc)
    counts.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= topK)
      .select(col("lang"), col("gram"), col("cnt"))
  }

  /** TRAINED language-ID, scoring half: per-(doc, language) smoothed NB
    * log-likelihood of the document's distinct trigram set under a
    * [[langIdTrain]] profile — `Σ_{g∈doc∩profile} ln(cnt+1) −
    * |doc grams| · ln(tot_lang + V)` (add-one smoothing over the
    * profile vocabulary V; grams outside the profile contribute only
    * the denominator term). Emitted per candidate language at full
    * double precision — `argmax` is one `max_by` away, left to the
    * caller so float-tie behavior stays in their hands (the harness
    * rounds in its own projection for oracle comparison).
    *
    * Scale shape: the model is ≤ topK·|langs| rows → BROADCAST to the
    * gram join; per-doc gram counts and per-(doc, lang) hit sums are
    * partial-aggregable; the language fan-out is an `explode` of a
    * |langs|-element literal array (|langs| is a handful — this is the
    * standard small-dimension fan-out, not a cross join). The gram
    * table is materialized once for its two consumers.
    *
    * The model is `localCheckpoint`ed once per call for its three
    * consumers (the two driver folds and the broadcast join); the
    * checkpoint is unpinned and is reclaimed by the ContextCleaner with
    * the returned frame.
    */
  def langIdScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame): DataFrame =
    langIdScoreKeyed(docs, Seq(idCol), textCol, model)

  /** [[langIdScore]] over a COMPOSITE key — the shared implementation.
    * One broadcast of the per-gram weight table and ONE partial-
    * aggregable `groupBy(keys)` compute both the per-doc gram count and
    * every language's hit sum in a single pass (the earlier two-
    * aggregation form materialized the full gram fan-out — corpus
    * text × 3-gram rows — in executor storage and shuffled it twice;
    * the single pass ships only one combined row per key per map
    * partition). The per-(gram, lang) weight table is ≤ topK·|langs|
    * rows by [[langIdTrain]]'s cap: broadcastable by construction.
    */
  private[graft] def langIdScoreKeyed(
      docs: DataFrame,
      idCols: Seq[String],
      textCol: String,
      model: DataFrame): DataFrame = {
    val m = model.localCheckpoint()
    // bounded driver folds: per-lang totals + profile vocabulary size
    // (≤ topK·|langs| rows by langIdTrain's cap)
    val stats = m.groupBy(col("lang")).agg(sum(col("cnt")).as("__tot"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(stats.nonEmpty, "empty language model")
    val v = m.select(countDistinct(col("gram"))).collect()(0).getLong(0)
    val langs = stats.sortBy(_._1)
    val keys = idCols.map(col)
    // one weight column per language on the broadcast side: the NB hit
    // contribution ln(cnt + 1) of this gram under that language, null
    // when the gram is outside the language's profile (sum() skips
    // nulls, reproducing the inner-join-then-sum semantics)
    val wCols = langs.map { case (l, _) =>
      sum(when(col("lang") === l,
        log(col("cnt").cast("double") + 1.0))).as(s"__w_$l")
    }
    val mPivot = m.groupBy(col("gram")).agg(wCols.head, wCols.tail: _*)
    val grams = docs.select(
      keys :+ explode(charShingles(lower(col(textCol)), 3)).as("gram"): _*)
    val agg = grams.join(broadcast(mPivot), Seq("gram"), "left")
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("__nd"),
        langs.map { case (l, _) => sum(col(s"__w_$l")).as(s"__hit_$l") }: _*)
    val perLang = explode(array(langs.map { case (l, tot) =>
      struct(lit(l).as("lang"),
        lit(math.log(tot.toDouble + v)).as("__den"),
        col(s"__hit_$l").as("__hit"))
    }: _*))
    agg.select(keys :+ col("__nd") :+ perLang.as("__l"): _*)
      .select(keys :+ col("__l.lang").as("lang") :+
        (coalesce(col("__l.__hit"), lit(0.0))
          - col("__nd").cast("double") * col("__l.__den")).as("score"): _*)
  }

  /** Paragraph-level language segmentation — the multilingual-document
    * form of [[langIdScore]] (real crawl pages mix languages;
    * doc-level ID mislabels every minority passage, and corpus
    * language filters then either drop good text or keep wrong-language
    * text): each newline-separated non-blank paragraph is scored
    * independently under the trained NB `model`, takes its
    * best-scoring language (ranked on round-6 scores with a language
    * tie-break, so near-ties resolve identically in any engine), and
    * the document gets the MAJORITY language of its paragraphs
    * (ties: alphabetically first). One row per paragraph:
    * `(id, para_idx, para_lang, doc_lang)` — the per-paragraph rows
    * drive passage-level filtering/routing, `doc_lang` the doc-level
    * label.
    *
    * Scale shape: the paragraph explode is linear (a paragraph row
    * replaces its slice of the doc, not a copy of it); scoring is
    * [[langIdScore]]'s audited shape — model broadcast,
    * partial-aggregable gram aggregates; both argmax windows partition
    * by paragraph/document and rank ≤ |langs| / ≤ paragraphs-per-doc
    * rows.
    */
  def langIdSegments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // keyed on the NUMERIC (id, para_idx) pair throughout: the earlier
    // string "id#idx" paragraph key rode every exploded 3-gram row
    // through the scorer's shuffle — pure key-byte overhead on the
    // widest table in the pipeline
    val paras = docs.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("para_idx", "__p")))
      .filter(length(trim(col("__p"))) > 0)
    val scored = langIdScoreKeyed(
      paras.select(col(idCol), col("para_idx"), col("__p")),
      Seq(idCol, "para_idx"), "__p", model)
    val wp = Window.partitionBy(col(idCol), col("para_idx"))
      .orderBy(round(col("score"), 6).desc, col("lang").asc)
    val best = scored.withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("para_idx"), col("lang").as("para_lang"))
    val pb = paras.select(col(idCol), col("para_idx"))
      .join(best, Seq(idCol, "para_idx"))
    val wd = Window.partitionBy(col(idCol))
      .orderBy(col("__c").desc, col("para_lang").asc)
    val docLang = pb.groupBy(col(idCol), col("para_lang"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__rn", row_number().over(wd))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("para_lang").as("doc_lang"))
    pb.join(docLang, Seq(idCol))
      .select(col(idCol), col("para_idx"), col("para_lang"),
        col("doc_lang"))
  }

  /** Token counts: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs / digit runs / single other symbols), plus a
    * chars-per-token ratio — the usual cheap proxy for tokenizer cost.
    * One native character scan per document
    * ([[graft.functions.TokenStatsExpr]]) — no regex engine and no
    * token-array materialization on the hot path.
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnCompat._
    val txt = col(textCol)
    val tc = toColumn(graft.functions.TokenStatsExpr(toExpression(txt)))
    docs.select(col(idCol), length(txt).as("__len"), tc.as("__tc"))
      .select(
        col(idCol),
        col("__tc").getField("n_ws").as("n_ws_tokens"),
        col("__tc").getField("n_re").as("n_re_tokens"),
        // try_divide: empty text has 0 regex tokens (ANSI x/0 would fail)
        round(try_divide(col("__len").cast("double"),
          col("__tc").getField("n_re")), 6).as("chars_per_token"))
  }

  /** EXACT byte-level BPE token counts under a merge table — the
    * trainer-accurate upgrade over [[tokenCounts]]'s heuristics
    * ([[graft.functions.BpeTokenCountExpr]]: GPT-2 pre-tokenizer regex,
    * then the standard lowest-rank merge walk per piece). Pass a
    * vocabulary loaded with [[graft.functions.Bpe.loadMerges]] (any
    * published merges.txt) for production counts; the default fixture
    * vocabulary is the oracle-checkable two-merge table. Same shape as
    * every per-doc scorer here: one native pass, no shuffle, columnar
    * prune to (id, text).
    */
  def tokenCountsBpe(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)] = graft.functions.Bpe.fixtureMerges)
      : DataFrame =
    docs.select(col(idCol),
      graft.functions.TextFunctions.bpeTokenCount(col(textCol), merges)
        .as("n_bpe_tokens"))

  /** Tokenizer fertility per group — tokens-per-word under a given BPE
    * vocabulary, the standard diagnostic for how well a tokenizer fits
    * each language/domain (fertility ≫ 1 on a language means its text
    * fragments into byte-level pieces: under-trained vocabulary,
    * inflated sequence lengths, wasted training compute — the metric
    * multilingual-tokenizer papers report per language). One
    * partial-aggregable pass: both sums are native per-row expressions
    * ([[graft.functions.BpeExpressions]] token count + word count)
    * combined map-side; output one row per group `(byCol, n_tokens,
    * n_words, fertility)` with the ratio RAW (harness rounds).
    */
  def tokenFertility(
      docs: DataFrame,
      textCol: String,
      byCol: String,
      merges: Seq[(String, String)] = graft.functions.Bpe.fixtureMerges)
      : DataFrame =
    docs.groupBy(col(byCol))
      .agg(
        sum(graft.functions.TextFunctions.bpeTokenCount(col(textCol), merges))
          .as("n_tokens"),
        sum(size(filter(words(col(textCol)), w => length(w) > 0)))
          .as("n_words"))
      .withColumn("fertility",
        col("n_tokens").cast("double") / col("n_words"))

  /** Token-id sequences — the trainer-input form of the BPE family
    * (counts budget, chunks window, this FEEDS): `(id, token_ids
    * array<int>)` under the canonical merges-derived numbering. Same
    * one-native-pass shape as [[tokenCountsBpe]].
    */
  def tokenIdsBpe(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)] = graft.functions.Bpe.fixtureMerges)
      : DataFrame =
    docs.select(col(idCol),
      graft.functions.TextFunctions.bpeTokenIds(col(textCol), merges)
        .as("token_ids"))

  /** Learn a BPE merge table FROM the corpus — completes the tokenizer
    * story end to end (train here, count/chunk with [[tokenCountsBpe]] /
    * [[chunkByTokensBpe]], persist via [[graft.functions.Bpe
    * .encodeToken]] in merges.txt form). The corpus-scale work is ONE
    * distributed pass: native pre-tokenization
    * ([[graft.functions.BpePiecesExpr]]) → `explode` →
    * `groupBy(piece).count` (partial-aggregable — hot word types
    * combine map-side, so the shuffle carries piece TYPES, not corpus
    * tokens). The merge iteration then runs on the aggregated type
    * table, capped at the `maxPieceTypes` highest-count types
    * (deterministic `ORDER BY count DESC, piece` top-K via
    * TakeOrderedAndProject — word types grow sublinearly with corpus
    * size per Heaps' law, so a 1M cap covers the mass of a 100 TB
    * corpus; the bounded collect is the same pattern as the k-means
    * centroid folds). Iterating distributively instead would launch one
    * job per merge — thousands of barriers to learn what a bounded
    * table teaches identically ([[graft.functions.Bpe.train]] documents
    * the deterministic order).
    */
  def bpeTrainMerges(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      maxPieceTypes: Int = 1000000,
      minPairCount: Long = 2L): Seq[(String, String)] = {
    val pieceCounts = docs
      .select(explode(graft.functions.TextFunctions.bpePieces(col(textCol)))
        .as("__piece"))
      .groupBy(col("__piece"))
      .agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__piece").asc)
      .limit(maxPieceTypes)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    graft.functions.Bpe.train(pieceCounts, numMerges, minPairCount)
  }

  /** [[chunkByTokens]] at TRUE BPE token boundaries — chunk windows are
    * token ranges under the merge table, and chunk texts are the exact
    * byte slices those tokens cover (byte-level BPE tokens concatenate
    * back to the original bytes, so every window is a contiguous
    * substring). Same window arithmetic as the word form; one native
    * pass per row ([[graft.functions.BpeChunksExpr]]), `posexplode`
    * fans the windows out — no shuffle, document-parallel.
    */
  def chunkByTokensBpe(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      overlap: Int = 0,
      merges: Seq[(String, String)] = graft.functions.Bpe.fixtureMerges)
      : DataFrame = {
    import org.apache.spark.sql.GraftColumnCompat._
    docs.select(col(idCol),
        posexplode(toColumn(graft.functions.BpeChunksExpr(
          toExpression(col(textCol)), merges, chunkTokens, overlap))))
      .select(col(idCol), col("pos").as("chunk_id"),
        col("col").getField("n_tokens").as("n_tokens"),
        col("col").getField("chunk_text").as("chunk_text"))
  }

  /** Corpus vocabulary: one row per distinct word with corpus-wide term
    * frequency and document frequency — the building block for
    * stopword/rare-word filtering and tokenizer vocab induction. One
    * explode + one shuffle on the word; `countDistinct`'s Expand doubles
    * the exploded rows but partial aggregation collapses them map-side —
    * measured 2× faster than a two-stage (word, doc) pre-aggregation,
    * whose second shuffle costs more than the Expand saves.
    */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(words(col(textCol))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("term_freq"),
        countDistinct(col(idCol)).as("doc_freq"))

  /** Exact length quantiles per group (25/50/75th, interpolated) — data
    * profiling for curation cutoffs. `percentile` is exact and
    * cross-engine reproducible, which the correctness oracle needs; the
    * aggregation buffers each group's values.
    */
  def lengthQuantiles(
      docs: DataFrame,
      groupCol: String,
      lenCol: String): DataFrame = {
    def pct(q: Double) = percentile(col(lenCol), lit(q))
    docs.groupBy(col(groupCol)).agg(
      round(pct(0.25), 6).as("p25"),
      round(pct(0.5), 6).as("p50"),
      round(pct(0.75), 6).as("p75"),
      count(lit(1)).as("n_docs"))
  }

  /** Repetition / symbol quality flags in the style of published
    * web-corpus filtering rules: the fraction of repeated word 3-grams
    * (1 - distinct/total windows), the symbol-to-character ratio, and a
    * combined keep flag with the usual cutoffs. One codegen pass.
    */
  /** The two quality ratios as raw column expressions — shared by
    * [[qualityFlags]] and [[Pipeline.curate]]'s quality stage so the
    * filter stays a pure per-row predicate (pipelined into the scan, no
    * join) and cannot drift from the flag definitions.
    */
  private[operators] def qualityRatios(txt: Column): (Column, Column) = {
    val ws = words(txt)
    val windows = greatest(size(ws) - 2, lit(1)).cast("double")
    val repRatio = round(lit(1.0) -
      size(shingles(txt, 3)).cast("double") / windows, 6)
    val symbolRatio = round(
      length(regexp_replace(txt, "[a-zA-Z0-9\\s]", "")).cast("double") /
        greatest(length(txt), lit(1)), 6)
    (repRatio, symbolRatio)
  }

  def qualityFlags(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxRepetition: Double = 0.3,
      maxSymbolRatio: Double = 0.2): DataFrame = {
    val (repRatio, symbolRatio) = qualityRatios(col(textCol))
    docs.select(
      col(idCol),
      repRatio.as("rep_ratio"),
      symbolRatio.as("symbol_ratio"),
      (repRatio <= maxRepetition && symbolRatio <= maxSymbolRatio)
        .as("keep"))
  }

  /** BM25 lexical retrieval scores — the Okapi/Lucene ranking function
    * (Robertson & Zaragoza 2009; the `(k1, b)` form and the
    * always-positive `ln(1 + (N − df + ½)/(df + ½))` idf are Lucene's)
    * over a SET of queries in one corpus pass: the complement of the
    * ANN surface for the retrieval questions embeddings answer badly —
    * exact-term probes, contamination hunts ("which training docs score
    * high against this benchmark question"), corpus QA.
    *
    * Scale shape: the query set explodes to `(qid, term)` rows and
    * BROADCASTS into an inner join against the corpus token stream, so
    * the corpus shrinks to query-term hits before anything shuffles;
    * the tf aggregate is partial-aggregable on (qid, doc, term); df
    * and the global (N, avgdl) statistics are term-count- and one-row-
    * sized. Nothing corpus-sized is ever sorted — compose with
    * [[graft.operators.TopK.topKPerKey]] keyed on `qid` for bounded
    * top-k retrieval (the spec does).
    *
    * Tokenization is the exact-decon family's: lowercase, whitespace
    * split. Output `(qid, idCol, score)` — one row per (query, doc
    * with ≥ 1 matching term); `score` is a RAW double (harness
    * projections round).
    */
  def bm25Scores(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(Long, String)],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    val spark = docs.sparkSession
    import spark.implicits._
    val qterms = queries.flatMap { case (qid, q) =>
      q.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(t => (qid, t))
    }.toDF("qid", "term")
    // alias the tokenization once (CollapseProject re-inlining rule)
    val toks = docs.select(col(idCol),
      filter(split(trim(lower(col(textCol))), "\\s+"),
        w => length(w) > 0).as("__toks"))
    val words = toks.select(col(idCol), size(col("__toks")).as("__dl"),
      explode(col("__toks")).as("term"))
    val tf = words.join(broadcast(qterms), Seq("term"))
      .groupBy(col("qid"), col(idCol), col("term"), col("__dl"))
      .agg(count(lit(1)).as("__tf"))
    val stats = toks.agg(count(lit(1)).cast("double").as("__n"),
      avg(size(col("__toks")).cast("double")).as("__avgdl"))
    // tf is distinct per (qid, doc, term), so df is a plain count
    val dfreq = tf.groupBy(col("qid"), col("term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    tf.join(broadcast(dfreq), Seq("qid", "term"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("__df") + 0.5) /
          (col("__df") + 0.5)))
      .withColumn("__s",
        col("__idf") * (col("__tf") * (k1 + 1)) /
          (col("__tf") +
            (col("__dl") / col("__avgdl") * b + (1 - b)) * k1))
      .groupBy(col("qid"), col(idCol))
      .agg(sum(col("__s")).as("score"))
  }

  /** Unicode script-ratio detection — the routing signal UPSTREAM of
    * language ID (a CJK doc should never enter a Latin-alphabet
    * n-gram model, and mixed-script spam shows as no dominant
    * script): per-doc fractions of non-whitespace characters in the
    * Latin / Cyrillic / CJK (Han+kana+Hangul) / Arabic scripts, plus
    * a dominant-script label with a fixed precedence tie-break.
    * Pure `regexp_replace` counting — scan-pipelined, no UDF; the
    * Java `\p{IsXxx}` classes and RE2's `\p{Xxx}` agree on these
    * scripts, which is what makes the oracle exact.
    *
    * Output `(idCol, frac_latin, frac_cyrillic, frac_cjk,
    * frac_arabic, script)`; fracs round to 6; `script` is `empty` for
    * whitespace-only docs and `other` when no listed script occurs.
    */
  /** Per-script character count — ONE definition for every consumer
    * of the script family (the ratios report and the streaming
    * funnel's stateless routing), so the character classes cannot
    * drift between batch and stream.
    */
  private[graft] def scriptCount(t: Column, classes: String*): Column =
    length(regexp_replace(t,
      "[^" + classes.map(c => s"\\p{Is$c}").mkString + "]", ""))

  private[graft] def scriptNonWs(t: Column): Column =
    length(regexp_replace(t, "\\s", ""))

  /** The dominant-script when-chain over precomputed counts — shared
    * by [[scriptRatios]] and `Pipeline.curateStream` so the tie-break
    * precedence (latin ≥ cyrillic ≥ cjk ≥ arabic) cannot drift.
    */
  private[graft] def scriptLabelFrom(
      n: Column, l: Column, c: Column, k: Column, a: Column): Column =
    when(n === 0, "empty")
      .when(l + c + k + a === 0, "other")
      .when(l >= c && l >= k && l >= a, "latin")
      .when(c >= k && c >= a, "cyrillic")
      .when(k >= a, "cjk")
      .otherwise("arabic")

  def scriptRatios(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val pre = docs.select(col(idCol),
      scriptNonWs(t).as("__n"),
      scriptCount(t, "Latin").as("__l"),
      scriptCount(t, "Cyrillic").as("__c"),
      scriptCount(t, "Han", "Hiragana", "Katakana", "Hangul").as("__k"),
      scriptCount(t, "Arabic").as("__a"))
    def frac(c: org.apache.spark.sql.Column) =
      round(c.cast("double") / greatest(col("__n"), lit(1)), 6)
    pre.select(col(idCol),
      frac(col("__l")).as("frac_latin"),
      frac(col("__c")).as("frac_cyrillic"),
      frac(col("__k")).as("frac_cjk"),
      frac(col("__a")).as("frac_arabic"),
      scriptLabelFrom(col("__n"), col("__l"), col("__c"), col("__k"),
        col("__a")).as("script"))
  }

  /** Per-document TF-IDF keyword extraction: the top-`kTop` terms of
    * each doc by `tf × smooth-idf` (sklearn's
    * `ln((1+N)/(1+df)) + 1` — never zero, so single-doc corpora still
    * rank). The corpus-level dual of [[bm25Scores]] (scores docs for
    * queries; this surfaces terms for docs) — topic tagging, cluster
    * labeling, datasheet keywords.
    *
    * Scale shape: tf is one partial-aggregable groupBy over the token
    * explode; df is a vocabulary-sized term aggregate that joins back
    * on `term` (hash join, linear — vocabulary is NOT broadcast-safe
    * at corpus scale); `N` is a one-row broadcast. The final rank is a
    * per-doc window — doc groups are bounded by document length and
    * the key space grows with the corpus, so it is skew-free (the
    * `langid_segments` precedent). Scores round to 6 BEFORE ranking
    * (engine-stable), ties break term-ASC (binary collation both
    * engines). Tokenization is the exact-decon family's.
    *
    * Output `(idCol, term, tfidf, rk)`, `rk` 1-based, ≤ `kTop` rows
    * per doc.
    */
  def tfidfTopTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      kTop: Int = 3): DataFrame = {
    require(kTop > 0, "kTop must be positive")
    val toks = docs.select(col(idCol),
      filter(split(trim(lower(col(textCol))), "\\s+"),
        w => length(w) > 0).as("__toks"))
    val tf = toks.select(col(idCol), explode(col("__toks")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    val stats = toks.agg(count(lit(1)).cast("double").as("__n"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("tfidf", round(col("__tf") *
        (log((lit(1.0) + col("__n")) / (lit(1.0) + col("__df"))) + 1.0),
        6))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= kTop)
      .select(col(idCol), col("term"), col("tfidf"), col("rk"))
  }

  /** Out-of-vocabulary rates of a new batch against a reference
    * corpus's vocabulary — the tokenizer-ops drift signal ("how much
    * of the new crawl does the frozen tokenizer not know"): token-level
    * (fraction of the batch's token INSTANCES outside the reference
    * vocab — what inflates fertility) and type-level (fraction of the
    * batch's DISTINCT terms that are new — what grows the merge table).
    * Output one row: (n_tokens, n_types, oov_tokens, oov_types,
    * token_rate, type_rate), rates rounded to 6.
    *
    * Scale shape: both sides are linear token explodes with
    * partial-aggregable counts; the only join is batch-terms ⋈
    * reference-vocab on term (hash join — a vocabulary is NOT
    * broadcast-safe at corpus scale), then one scalar aggregate.
    * Tokenization is the exact-decon family's (trim/lower/\s+).
    */
  def oovRates(
      reference: DataFrame,
      batch: DataFrame,
      textCol: String): DataFrame =
    // no .distinct() here — the callee dedups, and Spark cannot prove
    // an input distinct, so a second pass would re-shuffle the whole
    // vocabulary
    oovRatesVsVocab(batch, textCol, corpusTerms(reference, textCol))

  /** The distinct-or-not token projection the OOV family shares: one
    * `term` row per token instance.
    */
  private[graft] def corpusTerms(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(
      filter(split(trim(lower(col(textCol))), "\\s+"),
        w => length(w) > 0)).as("term"))

  /** [[oovRates]] against an explicit vocabulary TABLE (one `term`
    * column) — the form the persisted vocabulary artifact probes
    * through ([[graft.sources.VocabIndex]]).
    */
  def oovRatesVsVocab(
      batch: DataFrame,
      textCol: String,
      vocabTerms: DataFrame): DataFrame = {
    val vocab = vocabTerms.select(col("term")).distinct()
      .withColumn("__known", lit(1))
    corpusTerms(batch, textCol)
      .groupBy(col("term")).agg(count(lit(1)).as("__n"))
      .join(vocab, Seq("term"), "left")
      .agg(
        coalesce(sum(col("__n")), lit(0L)).as("n_tokens"),
        count(lit(1)).as("n_types"),
        coalesce(sum(when(col("__known").isNull, col("__n"))
          .otherwise(0L)), lit(0L)).as("oov_tokens"),
        coalesce(sum(when(col("__known").isNull, 1L).otherwise(0L)),
          lit(0L)).as("oov_types"))
      .select(col("n_tokens"), col("n_types"), col("oov_tokens"),
        col("oov_types"),
        round(col("oov_tokens") / greatest(col("n_tokens"), lit(1L)), 6)
          .as("token_rate"),
        round(col("oov_types") / greatest(col("n_types"), lit(1L)), 6)
          .as("type_rate"))
  }

  /** Per-group [[oovRates]]: one OOV row per group value (per
    * language, per source feed) against ONE shared reference
    * vocabulary — "whose crawl is drifting out of the tokenizer".
    * Same cost shape with the group key prepended to the term
    * aggregate; a null group is a REAL group (groupBy semantics).
    * Output: (group, n_tokens, n_types, oov_tokens, oov_types,
    * token_rate, type_rate).
    */
  def oovRatesBy(
      reference: DataFrame,
      batch: DataFrame,
      textCol: String,
      groupCol: String): DataFrame = {
    val vocab = corpusTerms(reference, textCol).distinct()
      .withColumn("__known", lit(1))
    batch.select(col(groupCol).cast("string").as("group"),
        explode(filter(split(trim(lower(col(textCol))), "\\s+"),
          w => length(w) > 0)).as("term"))
      .groupBy(col("group"), col("term")).agg(count(lit(1)).as("__n"))
      .join(vocab, Seq("term"), "left")
      .groupBy(col("group"))
      .agg(
        coalesce(sum(col("__n")), lit(0L)).as("n_tokens"),
        count(lit(1)).as("n_types"),
        coalesce(sum(when(col("__known").isNull, col("__n"))
          .otherwise(0L)), lit(0L)).as("oov_tokens"),
        coalesce(sum(when(col("__known").isNull, 1L).otherwise(0L)),
          lit(0L)).as("oov_types"))
      .select(col("group"), col("n_tokens"), col("n_types"),
        col("oov_tokens"), col("oov_types"),
        round(col("oov_tokens") / greatest(col("n_tokens"), lit(1L)), 6)
          .as("token_rate"),
        round(col("oov_types") / greatest(col("n_types"), lit(1L)), 6)
          .as("type_rate"))
  }

  /** All-pairs TF-IDF cosine similarity join: every pair (id_a < id_b)
    * of documents whose L2-normalized tf·smooth-idf term vectors have
    * cosine ≥ `threshold` — the sparse-lexical dual of
    * [[graft.operators.Dedup.embeddingCosinePairs]] (same output
    * contract, term space instead of embedding space). Template-page
    * detection, boilerplate families, near-identical articles that
    * word-level MinHash misses.
    *
    * EXACT semantics via symmetric prefix filtering with a positional
    * filter (all-pairs: Bayardo, Ma & Srikant, WWW 2007 §3; PPJoin:
    * Xiao, Wang, Lin & Yu, WWW 2008 §3): every doc's terms sort by
    * ONE GLOBAL order (df ascending, term ascending — rarest first)
    * and an entry is an INDEX entry iff its suffix squared mass under
    * that order is ≥ τ². A qualifying pair's FIRST common term under
    * the global order then sits in BOTH prefixes and survives the
    * per-row positional filter (proof at the implementation), so
    * candidates = prefix ⋈ prefix on term — full postings never enter
    * the join. The confirm re-attaches the two term→weight maps and
    * computes the exact dot with native map ops. Cosines round to 6
    * BEFORE the threshold compare (engine-stable summation).
    *
    * Scale shape: tf / df / norm are the [[tfidfTopTerms]] aggregates
    * (linear, partial-aggregable; df joins back on term — hash join,
    * vocabulary is NOT broadcast-safe at corpus scale); the prefix
    * windows are per-doc (rows ≤ doc vocab, skew-free); the candidate
    * join is the inverted-index pattern over each doc's RAREST terms
    * — high-df stopwords land in suffixes, so stop-term buckets empty
    * by construction; the per-pair confirm is linear in the vocab
    * union of the two docs.
    *
    * `maxBucketSize` is the worst-case guard (the `capHotBuckets`
    * trade every LSH pair API has) for corpora where idf separates
    * nothing — boilerplate farms, a ~30-word template vocabulary —
    * and every term bucket legitimately holds most of the corpus.
    * With the cap on, term buckets holding more than `maxBucketSize`
    * prefix entries drop BEFORE the self-join, bounding candidate
    * volume at |vocab| · cap² regardless of corpus size. RECALL trade
    * only — pairs sharing nothing but capped terms are missed;
    * emitted cosines stay exact. 0 (default) disables the cap —
    * exact output.
    */
  def tfidfCosinePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      maxBucketSize: Int = 0): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    // the vector machinery runs over DISTINCT texts — a dup-heavy
    // corpus would otherwise amplify every candidate bucket by its
    // duplication factor squared (the editDistancePairs collapse).
    // Exactness is preserved: identical texts have identical vectors,
    // df counts DOCS via the family weight __m, and same-text doc
    // pairs are cosine 1.0 by construction (unit vector against
    // itself), reconstructed as the dist-0 analogue below
    val keys = docs.select(col(idCol), col(textCol))
      .filter(col(textCol).isNotNull)
    // the family key __k is the md5 of the distinct text, NOT the text
    // itself: it rides every downstream row — tf/df term rows, two
    // per-family windows, the prefix self-join, the vector maps — and
    // a 16-byte binary key keeps document-sized strings out of all of
    // those shuffles and sorts (md5-as-text-identity is the same
    // convention as the exact-dedup text_hash). The id↔text expansion
    // at the end joins through the same hash.
    val famAll = keys.groupBy(md5(col(textCol)).as("__k"))
      .agg(count(lit(1)).as("__m"),
        first(col(textCol)).as("__text"))
      .withColumn("__toks",
        filter(split(trim(lower(col("__text"))), "\\s+"),
          w => length(w) > 0))
      .drop("__text")
    // idf's N counts EVERY document (token-less ones included — the
    // pre-collapse semantics); only the VECTOR machinery drops them
    val stats = famAll.agg(sum(col("__m")).cast("double").as("__n"))
    val fam = famAll
      .filter(size(col("__toks")) > 0) // zero vectors have no cosine
    val tf = fam.select(col("__k"), col("__m"),
        explode(col("__toks")).as("term"))
      .groupBy(col("__k"), col("term"))
      .agg(count(lit(1)).cast("double").as("__tf"),
        first(col("__m")).as("__m"))
    val dfreq = tf.groupBy(col("term"))
      .agg(sum(col("__m")).cast("double").as("__df"))
    val weighted = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__w", col("__tf") *
        (log((lit(1.0) + col("__n")) / (lit(1.0) + col("__df"))) + 1.0))
      .select(col("__k"), col("term"), col("__w"), col("__df"))
    val u = weighted.withColumn("__u", col("__w") /
        sqrt(sum(col("__w") * col("__w"))
          .over(Window.partitionBy(col("__k")))))
      .select(col("__k"), col("term"), col("__u"), col("__df"))
    // prune HALF a rounding unit under the threshold: the emitted
    // contract is round(cos, 6) >= τ, so a pair at true cosine
    // τ - 4e-7 must still be GENERATED for the confirm to round it in
    val pruneAt = threshold - 5e-7
    // Symmetric PPJoin candidate generation: entries sort by ONE
    // GLOBAL order (df asc, term asc — rarest first) and index while
    // suffix squared mass ≥ τ²; candidates = prefix ⋈ prefix. For a
    // qualifying pair, its FIRST common term t under the global order
    // has every common term in both suffixes at t, so by
    // Cauchy–Schwarz cos ≤ √(sfx_a(t)·sfx_b(t)) — cos ≥ τ forces each
    // factor ≥ τ² (both ≤ 1), putting t in BOTH prefixes, and the
    // per-row positional filter sfx_a·sfx_b ≥ τ² keeps exactly that
    // row (Xiao et al. 2008 §3). Measured against the asymmetric
    // full ⋈ prefix form (Bayardo §3, weight-desc order): 1.6× faster
    // solo at 10× scale (141.7 s vs 227.8 s) — the τ² boundary
    // stretches prefixes, but keeping FULL postings out of the join
    // wins more. With the cap on, candidate volume ≤ |vocab| · cap²
    // regardless of corpus size — the stated degenerate-corpus bound.
    val sqTau = pruneAt * pruneAt
    val suffix = Window.partitionBy(col("__k"))
      .orderBy(col("__df").asc, col("term").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prefix = u
      .withColumn("__sfx", sum(col("__u") * col("__u")).over(suffix))
      .filter(col("__sfx") >= sqTau)
      .select(col("__k"), col("term"), col("__sfx"))
    val indexed =
      if (maxBucketSize <= 0) prefix
      else {
        val hot = prefix.groupBy(col("term"))
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") > maxBucketSize)
          .select(col("term"))
        prefix.join(hot, Seq("term"), "left_anti")
      }
    val cand = indexed
      .select(col("__k").as("__ka"), col("term"), col("__sfx").as("__sa"))
      .join(indexed.select(col("__k").as("__kb"), col("term"),
        col("__sfx").as("__sb")), Seq("term"))
      .filter(col("__ka") < col("__kb") &&
        col("__sa") * col("__sb") >= sqTau)
      .select(col("__ka"), col("__kb"))
      .dropDuplicates("__ka", "__kb")
    val vecs = u.groupBy(col("__k"))
      .agg(map_from_entries(collect_list(struct(col("term"), col("__u"))))
        .as("__vec"))
    val kPairs = cand
      .join(vecs.select(col("__k").as("__ka"), col("__vec").as("__va")),
        Seq("__ka"))
      .join(vecs.select(col("__k").as("__kb"), col("__vec").as("__vb")),
        Seq("__kb"))
      .select(col("__ka"), col("__kb"),
        round(aggregate(map_values(map_zip_with(col("__va"), col("__vb"),
          (_, x, y) => coalesce(x, lit(0.0)) * coalesce(y, lit(0.0)))),
          lit(0.0), (acc, v) => acc + v), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    // expansion: cross products of the two text families (linear in
    // the OUTPUT), plus the identical-text block at exact cosine 1.0 —
    // both joined through the 16-byte family hash, never the text
    val tokenful = keys.select(col(idCol), md5(col(textCol)).as("__kid"))
      .join(fam.select(col("__k").as("__kid")), Seq("__kid"), "left_semi")
    val cross = kPairs
      .join(tokenful.select(col(idCol).as("__ida"),
        col("__kid").as("__ka")), Seq("__ka"))
      .join(tokenful.select(col(idCol).as("__idb"),
        col("__kid").as("__kb")), Seq("__kb"))
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"), col("cos_sim"))
    val same = tokenful.as("x").join(tokenful.as("y"),
        col("x.__kid") === col("y.__kid") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        lit(1.0).as("cos_sim"))
    same.unionByName(cross)
  }

  /** License detection over document text — the code-corpus curation
    * gate (the BigCode/StarCoder practice: permissively-licensed files
    * train, copyleft/unknown files are excluded or attributed; Kocetkov
    * et al. 2022 §3). Two detection tiers, first match wins, as ONE
    * pure column CASE — no UDF, no shuffle, scan-pipelined:
    *
    *  1. an explicit `SPDX-License-Identifier: <id>` header — the
    *     machine-readable convention — is extracted VERBATIM (any id,
    *     including ones the phrase tier doesn't know);
    *  2. canonical license-text phrases: the MIT grant sentence, the
    *     Apache-2.0 title+version pair, GPL (with a version split),
    *     the BSD redistribution clause, MPL, Creative Commons.
    *
    * Phrase matching is on the raw text (license headers preserve
    * their canonical casing; the SPDX tier is case-exact per spec).
    * No match → null license — the caller decides whether unknown
    * means drop (training) or pass (inventory). Output
    * `(idCol, license)`.
    */
  def licenseTag(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val spdx = regexp_extract(t,
      "SPDX-License-Identifier:\\s*([A-Za-z0-9.+-]+)", 1)
    val license =
      when(spdx =!= "", spdx)
        .when(t.contains("Permission is hereby granted, free of charge"),
          lit("MIT"))
        .when(t.contains("Apache License") && t.contains("Version 2.0"),
          lit("Apache-2.0"))
        .when(t.contains("GNU General Public License"),
          when(t.contains("version 3"), lit("GPL-3.0"))
            .when(t.contains("version 2"), lit("GPL-2.0"))
            .otherwise(lit("GPL")))
        .when(t.contains(
            "Redistribution and use in source and binary forms"),
          lit("BSD"))
        .when(t.contains("Mozilla Public License"), lit("MPL-2.0"))
        .when(t.contains("Creative Commons"), lit("CC"))
        .otherwise(lit(null).cast("string"))
    docs.select(col(idCol), license.as("license"))
  }

  /** Code-file quality signals — the structural gates of a CODE corpus
    * (the StarCoder/The-Stack filter set, Kocetkov et al. 2022 §3.2;
    * [[qualityFlags]] is the prose twin): per document,
    *
    *  - `max_line_len` / `mean_line_len`: minified/data files have
    *    monster or uniformly-long lines (published cuts: max < 1000,
    *    mean < 100);
    *  - `alnum_frac`: alphanumeric fraction of all characters — data
    *    blobs and binary-in-text sink below the published 0.25;
    *  - `has_long_b64`: a ≥ 64-char base64/hex run — an embedded
    *    binary payload marker;
    *  - `auto_generated`: generator banners ("auto-generated",
    *    "autogenerated", "generated by", "do not edit"),
    *    case-insensitive;
    *  - `keep`: the conjunction (line gates AND alnum gate AND neither
    *    marker).
    *
    * Line structure counts EVERY line including empty ones (split on
    * `\n`, the published convention); empty text reads as one empty
    * line with `alnum_frac` 0. Everything is a pure column expression
    * over one `split` alias — no UDF, no shuffle, whole-stage
    * codegen'd, linear in bytes.
    */
  def codeQualityFlags(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxLineLen: Int = 1000,
      maxMeanLineLen: Int = 100,
      minAlnumFrac: Double = 0.25): DataFrame = {
    val pre = docs.select(col(idCol), col(textCol).as("__t"),
      split(col(textCol), "\n", -1).as("__lines"))
    val lens = transform(col("__lines"), l => length(l))
    val maxLine = array_max(lens)
    val meanLine = aggregate(lens, lit(0L), (a, x) => a + x)
      .cast("double") / size(col("__lines"))
    val alnumFrac = when(length(col("__t")) === 0, lit(0.0))
      .otherwise(
        length(regexp_replace(col("__t"), "[^A-Za-z0-9]", ""))
          .cast("double") / length(col("__t")))
    val longB64 = col("__t").rlike("[A-Za-z0-9+/=]{64,}")
    val autoGen = lower(col("__t")).rlike(
      "auto-generated|autogenerated|generated by|do not edit")
    pre.select(
      col(idCol),
      maxLine.as("max_line_len"),
      meanLine.as("mean_line_len"),
      alnumFrac.as("alnum_frac"),
      longB64.as("has_long_b64"),
      autoGen.as("auto_generated"),
      (maxLine < maxLineLen && meanLine < maxMeanLineLen &&
        alnumFrac > minAlnumFrac && !longB64 && !autoGen).as("keep"))
  }

  /** Fixed-token-budget chunking with overlap — training-sequence prep:
    * each document becomes ceil((n − overlap) / (chunk − overlap))
    * whitespace-token windows of `chunkTokens` tokens, consecutive
    * windows sharing `overlap` tokens (the last window is short). One
    * pipelined pass: the token array is computed once, chunk windows are
    * `slice`s over a generated index sequence, and `posexplode` fans
    * them out — no shuffle, no UDF, document-parallel at any corpus
    * size. Output: (id, chunk_id, n_tokens, chunk_text).
    */
  def chunkByTokens(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      "need 0 <= overlap < chunkTokens")
    val step = chunkTokens - overlap
    // alias the split once: a non-cheap alias consumed more than once is
    // not re-inlined by CollapseProject, so the tokenization runs once
    val pre = docs.select(col(idCol),
      split(trim(col(textCol)), "\\s+").as("__toks"))
    val nChunks = greatest(lit(1),
      ceil((size(col("__toks")) - lit(overlap)).cast("double") / step)
        .cast("int"))
    val windows = transform(sequence(lit(0), nChunks - 1),
      i => slice(col("__toks"), i * step + 1, lit(chunkTokens)))
    pre.select(col(idCol), posexplode(windows))
      .select(col(idCol), col("pos").as("chunk_id"),
        size(col("col")).as("n_tokens"),
        array_join(col("col"), " ").as("chunk_text"))
  }

  /** PII scrub (the Dolma/RefinedWeb masking step): replace email
    * addresses, North-American-style phone numbers, and IPv4 addresses
    * with fixed mask tokens. Pure `regexp_replace` chain — codegen'd,
    * pipelined, linear; the patterns are deliberately simple/auditable
    * (high-recall masking belongs in a model pass; this is the cheap
    * regex tier every pipeline runs first).
    */
  def scrubPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "(\\+?[0-9]{1,2}[ .-])?\\(?[0-9]{3}\\)?[ .-][0-9]{3}[ .-][0-9]{4}"
    val ipv4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    regexp_replace(
      regexp_replace(
        regexp_replace(text, email, "<EMAIL>"),
        phone, "<PHONE>"),
      ipv4, "<IP>")
  }

  /** Unicode canonicalization (the standard pre-dedup text key): NFD →
    * strip combining marks → NFC → lowercase, then collapse runs of
    * whitespace and trim. "Café  Ü" and "cafe u" normalize equal, so
    * normalized exact dedup catches accent/case/spacing variants. The
    * unicode step is one native JVM pass
    * ([[graft.functions.NormalizeTextExpr]]); the whitespace collapse
    * stays a codegen'd `regexp_replace`.
    */
  def normalizeText(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    // explicit class, not \s: Java \s includes vertical tab \x0B, RE2
    // (the DuckDB oracle's regex engine) does not — the explicit class
    // is exactly RE2's \s on both engines
    trim(regexp_replace(
      toColumn(graft.functions.NormalizeTextExpr(toExpression(text))),
      "[ \\t\\n\\f\\r]+", " "))
  }

  /** Character-n-gram content fingerprint: md5 over the sorted HASHED
    * char shingle set — the fingerprint for scripts where whitespace
    * word shingles degenerate to whole-line tokens (CJK, Thai). Char
    * shingling yields ~|text| shingles per doc (vs ~|words| for the word
    * form), so the set is hashed to longs first and the sort runs over a
    * primitive array — one `Arrays.sort` per row instead of a
    * thousands-of-short-strings comparison sort with its per-element
    * allocations. Runtime is dominated either way by the portable
    * per-shingle md5 (~|text| digests per doc — the price of a
    * cross-engine-reproducible fingerprint); the pass is pipelined,
    * shuffle-free, and embarrassingly parallel at corpus scale.
    */
  def charFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      charN: Int = 5): DataFrame = {
    import org.apache.spark.sql.GraftColumnCompat._
    docs.select(col(idCol),
      toColumn(graft.functions.LongArrayFingerprintExpr(
        toExpression(hash60Array(charShingles(col(textCol), charN)))))
        .as("char_fingerprint"))
  }

  /** Content fingerprint: md5 over the sorted distinct shingle set —
    * invariant to word order at the shingle level and to shingle
    * multiplicity; equal fingerprints are near-certain duplicates.
    */
  def fingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.GraftColumnCompat._
    docs.select(col(idCol),
      toColumn(graft.functions.FingerprintExpr(
        toExpression(shingles(col(textCol), shingleN)))).as("fingerprint"))
  }

  /** Gopher-style repetition quality signals per document (Rae et al.
    * 2021, Table A1): fraction of duplicate lines, of characters in
    * duplicate lines, and of characters inside the most frequent word
    * 2-/3-gram. One native pass per row
    * ([[graft.functions.RepetitionStatsExpr]]) — shuffle-free, linear;
    * a filter on these columns is the standard "drop
    * repetition-degenerate documents" stage of a training-data
    * pipeline. Values rounded to 6 decimals (cross-engine stable).
    */
  def repetitionScores(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val st = repetitionStats(col(textCol))
    docs.select(col(idCol),
      round(st.getField("dup_line_frac"), 6).as("dup_line_frac"),
      round(st.getField("dup_line_char_frac"), 6).as("dup_line_char_frac"),
      round(st.getField("top_2gram_char_frac"), 6).as("top_2gram_char_frac"),
      round(st.getField("top_3gram_char_frac"), 6).as("top_3gram_char_frac"))
  }

  /** Winnowing fingerprints (Schleimer et al. 2003 / MOSS), one output
    * row per (doc, fingerprint): every shared substring of length
    * >= k + w - 1 across the corpus is guaranteed to surface as a
    * shared fingerprint, so an equi-join of this table with itself
    * finds copied passages with bounded fingerprint density (~2/(w+1)
    * of the k-grams are selected). Hashing is the portable 60-bit md5
    * prefix; the per-row pass is native and shuffle-free
    * ([[graft.functions.WinnowExpr]]).
    */
  def winnowFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 7,
      w: Int = 4): DataFrame =
    docs.select(col(idCol),
      explode(winnow(col(textCol), k, w)).as("fingerprint"))

  /** Cross-document overlap detection over [[winnowFingerprints]] — the
    * corpus-level half of the MOSS pipeline (Schleimer et al. 2003 §4:
    * rank document pairs by the number of shared selected fingerprints).
    * Emits `(id_a, id_b, n_shared)` for every pair sharing at least
    * `minShared` fingerprints, `id_a < id_b`; the winnowing guarantee
    * makes any shared substring of length >= k + w - 1 surface here.
    *
    * Scale shape: fingerprints whose DOCUMENT FREQUENCY exceeds
    * `maxDocFreq` are dropped before the self-join (standard in
    * plagiarism pipelines — license boilerplate appearing in half the
    * corpus carries no copy signal and would otherwise generate a
    * quadratic hot block in one join task, the same window-skew lesson
    * as [[Dedup.dedupLines]]). The frequency pass is a partial-aggregable
    * `groupBy(fingerprint).count`, the pair generation an equi-join on
    * the fingerprint with per-key work bounded by `maxDocFreq`², and the
    * final pair count another partial-aggregable groupBy — every shuffle
    * is linear in the fingerprint table.
    */
  def winnowOverlapPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 7,
      w: Int = 4,
      minShared: Int = 2,
      maxDocFreq: Int = 1000): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
    // winnowFingerprints emits each (doc, fingerprint) once, so the row
    // count per fingerprint IS its document frequency
    val rare = fps.groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq)
      .select(col("fingerprint"))
    val f = fps.join(rare, Seq("fingerprint"), "left_semi")
    val a = f.as("a")
    val b = f.as("b")
    a.join(b, col("a.fingerprint") === col("b.fingerprint") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-document unigram surprisal — the deterministic analog of the
    * CCNet/RedPajama perplexity filter (Wenzek et al. 2020 bucket docs
    * by LM perplexity; a KenLM is not reproducible cross-engine, a
    * corpus unigram LM is): `mean(-ln(count(w) / total))` over the
    * document's words, scored against the corpus itself. Low = common
    * fluent vocabulary, high = rare/garbled tokens — the same
    * head/middle/tail bucketing signal, thresholdable downstream.
    *
    * Scale shape: the vocabulary is one partial-aggregable groupBy (hot
    * words combine map-side), the corpus-wide total is a single
    * collected scalar, and the scoring join keys words-to-vocab — a
    * linear shuffle whose one-row-per-word build side AQE broadcasts
    * when small and skew-splits when "the" dominates the probe side.
    */
  def unigramSurprisal(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val ws = docs.select(col(idCol).as("__doc"),
      explode(words(col(textCol))).as("word"))
    val vocab = ws.groupBy(col("word")).agg(count(lit(1)).as("__cnt"))
    // one scalar: the corpus word count (a bounded driver round-trip)
    val total = vocab.agg(sum(col("__cnt"))).collect()(0).getLong(0)
    ws.join(vocab, Seq("word"))
      .groupBy(col("__doc"))
      .agg(round(avg(-log(col("__cnt").cast("double") / lit(total.toDouble))), 6)
        .as("surprisal"))
      .withColumnRenamed("__doc", idCol)
  }

  /** CCNet-style head/middle/tail quality bucketing (Wenzek et al.
    * 2020 §4.3: score each document with an LM, split every language's
    * corpus into three perplexity terciles, keep head+middle): the
    * [[unigramSurprisal]] score partitioned per `byCol` group into
    * `head` / `middle` / `tail` by cumulative DOC-COUNT fractions over
    * ascending score. A whole score-group lands in one bucket (the
    * threshold is a score VALUE, CCNet's semantics): `head` while
    * `cum(score) ≤ headFraction·total`, `middle` while
    * `cum ≤ (head+middle)·total`, else `tail`. Documents with no words
    * have no surprisal and are omitted (the scorer's contract).
    *
    * Scale shape — the reason this is not an `ntile` window: exact
    * per-group quantiling via `ntile`/`percent_rank` sorts the CORPUS
    * per group. Here the only window runs over `(group, rounded-score)
    * ` TYPE rows — the score is rounded to 6 decimals by the scorer, so
    * distinct scores per group are bounded far below doc count (the
    * langid cap-window precedent) — which collapse further to ONE
    * thresholds row per group; docs meet their bucket through a
    * broadcast join of that row and two comparisons. Both passes
    * upstream are partial-aggregable; nothing corpus-sized is ever
    * sorted. Output: `(idCol, byCol, surprisal, bucket)`.
    *
    * Split into [[qualityBucketTrain]] + [[qualityBucketScore]] for
    * the production shape: train on the reference corpus, score every
    * crawl batch or stream against the frozen model.
    */
  def qualityBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      byCol: String,
      headFraction: Double = 1.0 / 3,
      middleFraction: Double = 1.0 / 3): DataFrame = {
    val model = qualityBucketTrain(
      docs, idCol, textCol, byCol, headFraction, middleFraction)
    qualityBucketScore(docs, idCol, textCol, model)
  }

  /** A trained CCNet bucketing model: the frozen unigram LM (`vocab` =
    * `(word, __cnt)` plus the corpus `total`) and one row per group of
    * score-VALUE cut points `(byCol, __t_head, __t_mid)` — the max
    * score whose cumulative doc fraction stays within head /
    * head+middle. Both frames are lazy plans over the training corpus;
    * `localCheckpoint()` them (or persist to parquet) before scoring
    * many batches or a stream, else every micro-batch re-runs the
    * training aggregation.
    */
  final case class QualityBucketModel(
      vocab: DataFrame,
      total: Long,
      thresholds: DataFrame,
      byCol: String)

  /** Per-doc surprisal under a FROZEN vocab: words absent from the
    * model score as `oovCount` occurrences (`-ln(oov/total)`, the
    * pseudo-count floor that keeps unseen words finite). On the
    * training corpus itself no word is unseen and this equals
    * [[unigramSurprisal]].
    */
  private def surprisalWith(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame,
      total: Long,
      oovCount: Double): DataFrame =
    df.select(col(idCol).as("__doc"),
        explode(words(col(textCol))).as("word"))
      .join(vocab, Seq("word"), "left")
      .groupBy(col("__doc"))
      .agg(round(avg(-log(
        coalesce(col("__cnt").cast("double"), lit(oovCount))
          / lit(total.toDouble))), 6).as("surprisal"))
      .withColumnRenamed("__doc", idCol)

  /** Train the bucketing model on a reference corpus — the offline
    * half of the CCNet deployment (the paper trains its LM on
    * Wikipedia, then buckets every crawl snapshot against it).
    * Thresholds are computed from the training corpus's own score
    * distribution; see [[qualityBuckets]] for the cumulative-fraction
    * semantics and scale shape.
    */
  def qualityBucketTrain(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      byCol: String,
      headFraction: Double = 1.0 / 3,
      middleFraction: Double = 1.0 / 3): QualityBucketModel = {
    require(headFraction > 0 && middleFraction > 0 &&
      headFraction + middleFraction < 1,
      "head and middle fractions must be positive and sum below 1")
    import org.apache.spark.sql.expressions.Window
    val ws = docs.select(explode(words(col(textCol))).as("word"))
    val vocab = ws.groupBy(col("word")).agg(count(lit(1)).as("__cnt"))
    val total = vocab.agg(sum(col("__cnt"))).collect()(0).getLong(0)
    val scored = docs.select(col(idCol), col(byCol))
      .join(surprisalWith(docs, idCol, textCol, vocab, total, 1.0),
        Seq(idCol))
    val cumW = Window.partitionBy(col(byCol))
      .orderBy(col("surprisal").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(col(byCol))
    // prefix property: cum is monotone in score, so "cum ≤ f·tot" marks
    // a score prefix and its max element IS the bucket's value threshold
    val th = scored.groupBy(col(byCol), col("surprisal"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(cumW))
      .withColumn("__tot", sum(col("__c")).over(totW))
      .groupBy(col(byCol))
      .agg(
        max(when(col("__cum") <= lit(headFraction) * col("__tot"),
          col("surprisal"))).as("__t_head"),
        max(when(col("__cum") <=
          lit(headFraction + middleFraction) * col("__tot"),
          col("surprisal"))).as("__t_mid"))
    QualityBucketModel(vocab, total, th, byCol)
  }

  /** Score a batch (or, via [[qualityBucketScoreStream]], a stream)
    * against a trained model: surprisal under the frozen vocab, bucket
    * by value-threshold comparison — a broadcast model join plus
    * stateless arithmetic, the ingest-time deployment shape. Groups
    * absent from the model (and scores above both cut points) land in
    * `tail` — the conservative default for an unmodeled language.
    */
  def qualityBucketScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: QualityBucketModel,
      oovCount: Double = 1.0): DataFrame = {
    val scored = df.select(col(idCol), col(model.byCol))
      .join(surprisalWith(df, idCol, textCol, model.vocab, model.total,
        oovCount), Seq(idCol))
    scored.join(broadcast(model.thresholds), Seq(model.byCol), "left")
      .select(col(idCol), col(model.byCol), col("surprisal"),
        when(col("surprisal") <=
          coalesce(col("__t_head"), lit(Double.NegativeInfinity)),
          lit("head"))
          .when(col("surprisal") <=
            coalesce(col("__t_mid"), lit(Double.NegativeInfinity)),
            lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Streaming deployment of a trained bucket model: per micro-batch,
    * [[qualityBucketScore]] into `outPath/batch=<id>` — stateless (no
    * state store, no watermark; a doc's words arrive in its own row, so
    * per-doc aggregation is exact within foreachBatch), and REPLAY-SAFE
    * under at-least-once: each micro-batch writes its own
    * batchId-addressed partition directory with overwrite, so a retry
    * after a commit-then-crash re-writes the same directory instead of
    * appending duplicate rows (a plain mode-append sink would). Read
    * the result with `spark.read.parquet(outPath)` — `batch` surfaces
    * as a partition column. Materialize the model's frames first (see
    * [[QualityBucketModel]]).
    */
  def qualityBucketScoreStream(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      model: QualityBucketModel,
      outPath: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        qualityBucketScore(batch, idCol, textCol, model)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    }

  /** Interpolated BIGRAM surprisal — one order deeper than
    * [[unigramSurprisal]] on the CCNet-style fluency axis:
    * `mean(-ln(λ·P(w_i|w_{i-1}) + (1-λ)·P(w_i)))` over the document's
    * word transitions, with both models estimated from the corpus
    * itself (a KenLM is not reproducible cross-engine; corpus n-gram
    * counts are). Catches what unigram cannot: shuffled or
    * concatenated common words score fluent under a unigram model but
    * their TRANSITIONS are rare. The unigram interpolation floor keeps
    * unseen-transition surprisal finite, exactly the standard backoff
    * role. Documents with fewer than two words have no transitions and
    * are omitted (deterministically in both engines).
    *
    * Scale shape: bigram and prefix counts are partial-aggregable
    * groupBys over the transition rows (hot transitions combine
    * map-side); the scoring joins key transitions→counts — linear
    * shuffles whose one-row-per-key build sides AQE broadcasts when
    * small and skew-splits when "of the" dominates the probe side, the
    * same story as the unigram scorer. The corpus total is one bounded
    * collected scalar.
    */
  def bigramSurprisal(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      lambda: Double = 0.9): DataFrame = {
    require(lambda > 0 && lambda <= 1, "lambda must be in (0, 1]")
    // NO Spread.ifNarrow here: measured 1.21 -> 1.92 s at sf0.1/32 with
    // it — the extra full-text exchange costs more than the serial
    // tokenize it parallelizes (the per-row work is one word split,
    // not a positional-hash fan-out)
    val ws = docs.select(col(idCol).as("__doc"),
      explode(words(col(textCol))).as("word"))
    val uni = ws.groupBy(col("word")).agg(count(lit(1)).as("__uc"))
    val total = uni.agg(sum(col("__uc"))).collect()(0).getLong(0)
    // materialize the transition rows: the frame feeds THREE consumers
    // (bigram counts, prefix counts, the scoring join) and the
    // tokenize+transform+explode chain would otherwise re-run over the
    // scan for each — the same fan-out lesson (and the same
    // localCheckpoint-over-persist lifecycle choice) as Pipeline.curate
    val bi = docs.select(col(idCol).as("__doc"), words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= 2)
      .select(col("__doc"),
        explode(transform(sequence(lit(0), size(col("__ws")) - 2),
          i => struct(element_at(col("__ws"), i + 1).as("__prev"),
            element_at(col("__ws"), i + 2).as("word")))).as("__bg"))
      .select(col("__doc"), col("__bg.__prev").as("__prev"),
        col("__bg.word").as("word"))
      .localCheckpoint()
    val biCnt = bi.groupBy(col("__prev"), col("word"))
      .agg(count(lit(1)).as("__bc"))
    val prevCnt = bi.groupBy(col("__prev")).agg(count(lit(1)).as("__pc"))
    // score DISTINCT transitions first (vocabulary-sized, three small
    // joins), then attach to occurrences with ONE corpus-sized join —
    // joining counts onto occurrences directly would drag the
    // occurrence table through three shuffles instead of one
    val scored = biCnt.join(prevCnt, Seq("__prev")).join(uni, Seq("word"))
      .select(col("__prev"), col("word"),
        (lit(lambda) * (col("__bc").cast("double") / col("__pc").cast("double")) +
          lit(1.0 - lambda) * (col("__uc").cast("double") / lit(total.toDouble)))
          .as("__p"))
    bi.join(scored, Seq("__prev", "word"))
      .groupBy(col("__doc"))
      .agg(round(avg(-log(col("__p"))), 6).as("surprisal"))
      .withColumnRenamed("__doc", idCol)
  }

  /** Boilerplate line stripping — the RefinedWeb/jusText-style
    * "line-wise correction": drop navigation/footer junk lines (too few
    * words, or digit-dominated like timestamps and counters) and keep
    * the document otherwise intact. A line survives with at least
    * `minWords` whitespace-separated words AND a digit share of its
    * non-space characters at most `maxDigitRatio`. Pure per-row HOF
    * chain (split → filter → array_join): pipelined, shuffle-free, and
    * expressed so a SQL engine mirrors it lambda for lambda.
    */
  def stripBoilerplateLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 3,
      maxDigitRatio: Double = 0.5): DataFrame = {
    val lined = docs.select(col(idCol),
      split(col(textCol), "\n").as("__lines"))
    val kept = filter(col("__lines"), l => {
      val wc = size(filter(split(l, "\\s+"), w => length(w) > lit(0)))
      val digits = length(regexp_replace(l, "[^0-9]", "")).cast("double")
      val chars = greatest(
        length(regexp_replace(l, "\\s", "")), lit(1)).cast("double")
      wc >= lit(minWords) && digits / chars <= lit(maxDigitRatio)
    })
    lined.select(col(idCol),
        kept.as("__kept"), col("__lines"))
      .select(col(idCol),
        array_join(col("__kept"), "\n").as("text_clean"),
        size(col("__kept")).cast("long").as("n_lines_kept"),
        (size(col("__lines")) - size(col("__kept"))).cast("long")
          .as("n_lines_dropped"))
  }

  /** URL canonicalization — the Common-Crawl-style dedup key (one fetch
    * of a page per tracking-link variant): drop the fragment, lowercase
    * `scheme://host[:port]` (the case-insensitive parts ONLY — paths
    * stay case-sensitive per RFC 3986), strip `www.`, strip default
    * ports, drop tracking query params (`utm_*`, `gclid`, `fbclid`),
    * re-anchor the first surviving param to `?`, and trim trailing
    * `?`/`&`/`/`. Pure codegen'd `regexp_replace` chain — no UDF, no
    * lookaround (RE2-safe, so any engine's regex dialect reproduces it),
    * one pipelined pass.
    */
  def normalizeUrl(url: Column): Column = {
    val prefixRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"
    val noFrag = regexp_replace(url, "#.*$", "")
    val u1 = concat(
      lower(regexp_extract(noFrag, s"($prefixRe)", 1)),
      regexp_replace(noFrag, prefixRe, ""))
    val u2 = regexp_replace(u1, "^([a-z0-9+.-]*://)www\\.", "$1")
    val u3 = regexp_replace(u2, "^(https://[^/:?]*):443([/?]|$)", "$1$2")
    val u4 = regexp_replace(u3, "^(http://[^/:?]*):80([/?]|$)", "$1$2")
    val u5 = regexp_replace(u4,
      "[?&](utm_[A-Za-z]+|gclid|fbclid)=[^&]*", "")
    // [^?&]*: anchor to the FIRST '&' (a greedy [^?]* would backtrack
    // from the end and re-anchor the LAST one)
    val u6 = regexp_replace(u5, "^([^?&]*)&", "$1?")
    regexp_replace(u6, "[?&/]+$", "")
  }

  /** Registered host of a URL (lowercased; RFC-3986 `userinfo@`, the
    * `www.` prefix, any `:port`, and trailing FQDN dots stripped): the
    * partition/blocking key for per-site quotas and crawls. The
    * userinfo and trailing-dot strips are the BLOCKLIST-EVASION
    * closure: `https://x@bad.com/` and `https://bad.com./` must not
    * slip a `bad.com` rule, and per-doc-unique userinfo must not
    * fragment a per-host cap into unlimited strata.
    */
  def urlHost(url: Column): Column = {
    val auth = lower(regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val noUser = regexp_replace(auth, "^.*@", "")
    val noPort = regexp_replace(noUser, ":[0-9]+$", "")
    val noDots = regexp_replace(noPort, "\\.+$", "")
    regexp_replace(noDots, "^www\\.", "")
  }

  /** HTML → text extraction (the WET-conversion / C4-preprocessing
    * step that turns crawled markup into trainable prose): drops
    * `<script>`/`<style>` blocks and comments WITH their contents,
    * converts structural breaks (`<br>`, closing block tags) into
    * newlines so line-level operators ([[dedupLines]],
    * [[stripBoilerplateLines]]) see real line structure, strips every
    * remaining tag, decodes the ubiquitous named entities
    * (`&amp; &lt; &gt; &quot; &#39; &apos; &nbsp;` — decoded AFTER tag
    * removal so `&lt;script&gt;` in prose stays text, single-pass so
    * `&amp;lt;` yields the literal `&lt;`), and collapses whitespace
    * (runs of spaces/tabs to one space, blank-line runs to one
    * newline).
    *
    * A pure regexp-chain column expression — one pipelined pass, no
    * UDF, no shuffle, codegen-friendly like [[normalizeUrl]]. The
    * patterns avoid backreferences and lookaround so the SAME chain
    * runs on RE2-based engines (the DuckDB oracle replays it
    * verbatim). This is deliberately the 95% extractor (the C4
    * recipe's altitude): no DOM, no boilerplate classification beyond
    * script/style — pair with [[stripBoilerplateLines]] and
    * [[qualityFlags]] downstream for the rest.
    */
  def extractHtmlText(html: Column): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(graft.functions.TextFunctions.htmlExtractExpr(
      toExpression(html)))
  }

  /** Corpus-wide frequent word n-grams with a minimum-support cut — the
    * heavy-hitters pass behind boilerplate mining, contamination probe
    * construction, and the Gopher-style "fraction of docs dominated by a
    * common n-gram" diagnostics. Emits one row per n-gram with corpus
    * term frequency and document frequency, keeping n-grams whose TOTAL
    * count reaches `minCount`.
    *
    * Scale shape: n-grams explode ~`words` rows per doc (n-1 fewer),
    * then two partial-aggregable shuffles — `groupBy(ngram, doc)` to
    * collapse within-doc repeats, `groupBy(ngram)` to fold doc-level
    * counts into (tf, df). Hot n-grams ("terms of service") are exactly
    * the rows this operator exists to find, and map-side combine absorbs
    * them: no single task ever holds more than one combined row per
    * distinct n-gram. Tokenization matches [[vocabulary]] (lowercased
    * whitespace split); n-grams are space-joined POSITIONAL grams —
    * unlike [[graft.functions.ShinglesExpr]]'s distinct shingle SET,
    * repeats inside a doc count toward tf.
    */
  def frequentNgrams(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minCount: Long = 10L): DataFrame = {
    import org.apache.spark.sql.GraftColumnCompat._
    val grams = docs.select(col(idCol).as("__doc"),
        explode(toColumn(graft.functions.NgramsExpr(
          toExpression(col(textCol)), n))).as("ngram"))
    grams
      .groupBy(col("ngram"), col("__doc"))
      .agg(count(lit(1)).as("__tf"))
      .groupBy(col("ngram"))
      .agg(sum(col("__tf")).as("term_freq"),
        count(lit(1)).as("doc_freq"))
      .filter(col("term_freq") >= minCount)
  }

  /** [[frequentNgrams]] with a Count-Min prefilter (Cormode &
    * Muthukrishnan 2005) — the heavy-hitter shape for corpora whose
    * DISTINCT n-gram table is itself too large to shuffle: pass 1 folds
    * the gram stream into a `depth × width` CMS counter table (ONE
    * partial-aggregable pass collapsing map-side to ≤ depth·width rows
    * per partition, ≤ depth·width rows collected — the
    * [[graft.operators.Dedup.buildGramBloom]] bounded-driver-state
    * pattern); pass 2 re-streams the grams through a scan-time
    * [[graft.functions.CmsPrefilterExpr]] filter and runs the exact
    * (tf, df) aggregate ONLY over survivors. A CMS never
    * underestimates, so the prefilter has NO false negatives: the
    * result is bit-identical to [[frequentNgrams]] for ANY sketch size
    * (the `heavy_hitters` gate shares the exact form's oracle), while
    * both corpus-scale shuffles shrink from every-distinct-gram to
    * hot-plus-false-positive grams. False positives cost exact-count
    * shuffle rows, never wrong output; the over-count is ≤ ~e·N/width
    * w.p. 1-e^-depth (N = total gram occurrences), so size `width`
    * against `minCount·ε` for a `minCount = φ·N` heavy-hitter cut.
    *
    * The gram stream is recomputed for pass 2 (two source scans) — at
    * corpus scale a second columnar scan is cheap against
    * materializing a grams table the size of the corpus.
    */
  def frequentNgramsSketched(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minCount: Long = 10L,
      depth: Int = 4,
      width: Int = 1 << 14): DataFrame = {
    import org.apache.spark.sql.GraftColumnCompat._
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    // spread before the fan-out: the n-gram explode runs TWICE (counter
    // pass + prefiltered exact pass) and on a single-split local input
    // both passes tokenized the whole corpus in one task (no-op at real
    // scale, where the input has more splits than cores)
    val grams = Spread.ifNarrow(
        docs.select(col(idCol).as("__doc"), col(textCol)), col("__doc"))
      .select(col("__doc"),
        explode(toColumn(graft.functions.NgramsExpr(
          toExpression(col(textCol)), n))).as("ngram"))
    val counterRows = graft.operators.Sketches
      .cmsCounters(grams, col("ngram"), depth, width).collect()
    val arr = new Array[Long](depth * width)
    counterRows.foreach { r =>
      arr(r.getAs[Int]("row") * width + r.getAs[Long]("bucket").toInt) =
        r.getAs[Long]("cnt")
    }
    // ship the counter table by torrent broadcast, not inside the plan:
    // the filter expression stays a ~100-byte handle at any sketch size
    val bcArr = docs.sparkSession.sparkContext.broadcast(arr)
    grams
      .filter(toColumn(graft.functions.CmsPrefilterExpr(
        toExpression(col("ngram")), bcArr, depth, width, minCount)))
      .groupBy(col("ngram"), col("__doc"))
      .agg(count(lit(1)).as("__tf"))
      .groupBy(col("ngram"))
      .agg(sum(col("__tf")).as("term_freq"),
        count(lit(1)).as("doc_freq"))
      .filter(col("term_freq") >= minCount)
  }

  /** [[frequentNgramsSketched]] PER GROUP — per-language/per-source
    * boilerplate mining ("which n-grams dominate the German crawl"):
    * the sketch keys on `group <U+0001> ngram`, so one depth×width
    * table prefilters every group's stream at once and the support cut
    * applies within each group. Same transparency contract: no false
    * negatives for any sketch size, false positives die in the exact
    * per-group confirm. Output `(groupCol, ngram, term_freq,
    * doc_freq)` with `term_freq >= minCount` inside the group.
    */
  def frequentNgramsSketchedBy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      n: Int = 3,
      minCount: Long = 10L,
      depth: Int = 4,
      width: Int = 1 << 14): DataFrame = {
    import org.apache.spark.sql.GraftColumnCompat._
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    // spread before the double fan-out, as in the ungrouped form
    val grams = Spread.ifNarrow(
        docs.select(col(groupCol), col(idCol).as("__doc"), col(textCol)),
        col("__doc"))
      .select(col(groupCol), col("__doc"),
        explode(toColumn(graft.functions.NgramsExpr(
          toExpression(col(textCol)), n))).as("ngram"))
      // null-sentinel the group leg: a null group must behave as a real
      // group (exact groupBy semantics), not vanish via a null concat
      // that the null-safe prefilter then discards -- U+0000 cannot be a
      // cast-to-string group value, so the sentinel cannot collide
      .withColumn("__gk", concat(
        coalesce(col(groupCol).cast("string"), lit("\u0000")),
        lit("\u0001"), col("ngram")))
    val counterRows = graft.operators.Sketches
      .cmsCounters(grams, col("__gk"), depth, width).collect()
    val arr = new Array[Long](depth * width)
    counterRows.foreach { r =>
      arr(r.getAs[Int]("row") * width + r.getAs[Long]("bucket").toInt) =
        r.getAs[Long]("cnt")
    }
    val bcArr = docs.sparkSession.sparkContext.broadcast(arr)
    grams
      .filter(toColumn(graft.functions.CmsPrefilterExpr(
        toExpression(col("__gk")), bcArr, depth, width, minCount)))
      .groupBy(col(groupCol), col("ngram"), col("__doc"))
      .agg(count(lit(1)).as("__tf"))
      .groupBy(col(groupCol), col("ngram"))
      .agg(sum(col("__tf")).as("term_freq"),
        count(lit(1)).as("doc_freq"))
      .filter(col("term_freq") >= minCount)
  }
}
