package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Shared codegen-friendly column helpers for the text / dedup /
  * similarity operator family. Everything here is built from
  * `org.apache.spark.sql.functions._` (no UDFs), so it stays inside
  * whole-stage codegen and scales linearly with input — the property that
  * matters at 100 TB.
  *
  * Hashing is md5-based (not Spark's `xxhash64`) so the DuckDB oracle can
  * reproduce the exact same values portably.
  */
object TextFunctions {

  /** The HTML → text extraction chain at the CATALYST EXPRESSION level
    * (resolved `RegExpReplace`/`StringReplace` nodes, not unresolved
    * Column functions) — the single definition behind BOTH
    * [[graft.operators.TextAnalysis.extractHtmlText]] (Scala API) and
    * the `html_extract_text` SQL registration: a function-registry
    * builder must return an analyzable expression tree, and a
    * Column-derived tree of `UnresolvedFunction`s is not one.
    * Semantics documented on the Column wrapper.
    */
  def htmlExtractExpr(child: org.apache.spark.sql.catalyst.expressions
      .Expression): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RegExpReplace, StringReplace}
    def re(c: Expression, p: String, r: String): Expression =
      RegExpReplace(c, Literal(p), Literal(r))
    def rp(c: Expression, f: String, t: String): Expression =
      StringReplace(c, Literal(f), Literal(t))
    val noScript = re(child, "(?is)<script[^>]*>.*?</script[^>]*>", " ")
    val noStyle = re(noScript, "(?is)<style[^>]*>.*?</style[^>]*>", " ")
    val noComment = re(noStyle, "(?s)<!--.*?-->", " ")
    val breaks = re(re(noComment, "(?i)<br[^>]*>", "\n"),
      "(?i)</(p|div|li|h[1-6]|tr|ul|ol|blockquote|title)[^>]*>", "\n")
    val noTags = re(breaks, "(?s)<[^>]*>", " ")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags: Expression) { case (c, (e, r)) => rp(c, e, r) }
    val spaces = re(entities, "[ \t\r]+", " ")
    val lines = re(spaces, "( ?\n)+ ?", "\n")
    re(lines, "^[\n ]+|[\n ]+$", "")
  }

  /** Mersenne prime 2^31-1: modulus for the universal-hash family used by
    * MinHash (a*h+b mod p with a,b < p keeps products within 2^62, i.e.
    * inside signed-64 range).
    */
  val HashP: Long = 2147483647L

  /** Deterministic universal-hash parameters (a_j, b_j) for up to 32
    * MinHash functions — fixed constants so any engine (and the SQL
    * oracle) derives identical signatures.
    */
  def hashParams(j: Int): (Long, Long) = (2L * j + 3L, 101L * j + 17L)

  /** Portable 60-bit hash: first 15 hex digits of md5 as a non-negative
    * long. Codegen'd (`Md5` + `Conv` are native expressions).
    */
  def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast(LongType)

  /** Normalized word list: lowercase, trim, split on runs of whitespace. */
  def words(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Distinct word n-gram shingles. Texts shorter than `n` words collapse
    * to a single whole-text shingle (so every document has >= 1 shingle
    * and set operations stay total). Native expression ([[ShinglesExpr]])
    * — one loop per row instead of per-element interpreted lambdas.
    */
  def shingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(ShinglesExpr(toExpression(text), n))
  }

  /** Shannon entropy (bits) of the code-point distribution
    * ([[CharEntropyExpr]], codegen'd); raw double — callers round.
    */
  def charEntropy(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(CharEntropyExpr(toExpression(text)))
  }

  /** 60-bit hashes of a shingle set (native [[Hash60ArrayExpr]],
    * bit-identical to mapping [[hash60]]).
    */
  def shingleHashes(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(Hash60ArrayExpr(ShinglesExpr(toExpression(text), n)))
  }

  /** Distinct byte n-gram shingles of a binary payload as lowercase-hex
    * strings (native [[ByteShinglesExpr]]) — the payload-level analog of
    * [[shingles]] for multimodal near-dup detection.
    */
  def byteShingles(payload: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(ByteShinglesExpr(toExpression(payload), n))
  }

  /** 60-bit hashes of a payload's byte-shingle set — drop-in input for
    * the same minhash/band machinery as [[shingleHashes]]. Fused
    * ([[ByteShingleHashesExpr]]): the hex-string shingle set is never
    * materialized. Heap per row is the open-addressed dedup table plus
    * the output array — ~16-40× payload bytes for small n (2-4 8-byte
    * slots per window, ~payload-many windows) — vs the string path's
    * similar array footprint PLUS per-shingle String/char[] objects and
    * their GC pressure; the fusion's win is ~2-3× bytes and zero
    * short-lived objects, not a 2× total. Size executors accordingly.
    */
  def byteShingleHashes(payload: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(ByteShingleHashesExpr(toExpression(payload), n))
  }

  /** One-pass substring-dedup rewrite ([[SubstringRemoveExpr]]): words
    * array + sorted removed-gram starts → `struct(text_kept,
    * n_words_kept, n_words_dropped)`.
    */
  def substringRemove(words: Column, starts: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(SubstringRemoveExpr(toExpression(words), toExpression(starts), k))
  }

  /** Positional word k-gram full-md5 hashes ([[WordGramHash128Expr]]) —
    * the collision-safe gram index for substring dedup.
    */
  def wordGramHash128(words: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(WordGramHash128Expr(toExpression(words), k))
  }

  /** Bloom membership probe over a 16-byte hash ([[BloomContainsExpr]]). */
  def bloomContains(hash: Column, words: Array[Long], k: Int): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(BloomContainsExpr(toExpression(hash), words, k))
  }

  /** Bloom membership probe with a broadcast bitset
    * ([[BloomContainsBcastExpr]]) — the loaded-artifact deployment form.
    */
  def bloomContainsBcast(
      hash: Column,
      words: org.apache.spark.broadcast.Broadcast[Array[Long]],
      k: Int): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(BloomContainsBcastExpr(toExpression(hash), words, k))
  }

  /** Bloom probe positions of a 16-byte hash ([[BloomPositionsExpr]]) —
    * the distributed filter-build fan-out.
    */
  def bloomPositions(hash: Column, mBits: Int, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(BloomPositionsExpr(toExpression(hash), mBits, k))
  }

  /** Positional token-id k-gram full-md5 hashes ([[IntGramHash128Expr]])
    * — the gram index for BPE-token-level substring dedup.
    */
  def intGramHash128(ids: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(IntGramHash128Expr(toExpression(ids), k))
  }

  /** Token-space substring-dedup rewrite ([[BpeTokenRemoveExpr]]):
    * token-id array + sorted removed-gram starts → `struct(text_kept,
    * n_tokens_kept, n_tokens_dropped)` under `merges`' vocabulary.
    */
  def bpeTokenRemove(ids: Column, starts: Column, k: Int,
      merges: Seq[(String, String)],
      scrubSeams: Boolean = false): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(BpeTokenRemoveExpr(toExpression(ids), toExpression(starts), k,
      merges, scrubSeams))
  }

  /** Full BPE token-id sequence ([[BpeTokenIdsExpr]]) — the
    * trainer-input form (canonical merges-derived numbering).
    */
  def bpeTokenIds(text: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(BpeTokenIdsExpr(toExpression(text), merges))
  }

  /** GPT-2 pre-tokenizer pieces ([[BpePiecesExpr]]) — the distributed
    * half of BPE training.
    */
  def bpePieces(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(BpePiecesExpr(toExpression(text)))
  }

  /** Byte-level BPE token count under a merge table ([[BpeTokenCountExpr]])
    * — the trainer-accurate counter for token-denominated decisions.
    */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(BpeTokenCountExpr(toExpression(text), merges))
  }

  /** Distinct character n-gram shingles (code-point indexed) — the
    * language-agnostic form of [[shingles]] for scripts without
    * whitespace word boundaries. Native one-pass ([[CharShinglesExpr]]).
    */
  def charShingles(text: Column, n: Int, keepLastCpMod: Int = 0): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(CharShinglesExpr(toExpression(text), n, keepLastCpMod))
  }

  /** Per-document repetition statistics (raw doubles; see
    * [[RepetitionStatsExpr]]) — round to 6 decimals before comparing
    * across engines.
    */
  def repetitionStats(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(RepetitionStatsExpr(toExpression(text)))
  }

  /** Winnowing fingerprint set (sorted distinct window-min hashes of
    * char `k`-gram hashes; see [[WinnowExpr]]).
    */
  def winnow(text: Column, k: Int, w: Int): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(WinnowExpr(toExpression(text), k, w))
  }

  /** Portable 60-bit hash of each element of an existing string array
    * (one native pass — the array form of [[hash60]]). `mod > 0` folds a
    * `% mod` reduction into the same loop.
    */
  def hash60Array(arr: Column, mod: Long = 0L): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(Hash60ArrayExpr(toExpression(arr), mod))
  }

  /** One MinHash signature component: min over shingles of
    * (a_j * (h mod p) + b_j) mod p. Composable reference form — the
    * operators use [[minhashSigs]] (all components in one native pass);
    * kept for specs that cross-check the native expression.
    */
  def minhash(hashes: Column, j: Int): Column = {
    val (a, b) = hashParams(j)
    array_min(transform(hashes,
      h => (lit(a) * (h % HashP) + lit(b)) % HashP))
  }

  /** All `numHashes` MinHash signature components in one native pass
    * (array<long>, element j = [[minhash]](hashes, j)).
    */
  def minhashSigs(hashes: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(MinHashSigsExpr(toExpression(hashes), numHashes))
  }

  /** LSH band bucket hashes in one native pass (array<string>, element b
    * = md5 of band b's signature components joined with "_").
    */
  def minhashBuckets(hashes: Column, numHashes: Int, bands: Int): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(MinHashBucketsExpr(toExpression(hashes), numHashes, bands))
  }

  /** SimHash over the low `bits` bits of the shingle hashes: bit j of the
    * result is set when more shingles have bit j set than clear. Native
    * one-pass expression ([[SimHashExpr]]) — the composable
    * `aggregate`-per-bit form runs `bits` interpreted lambdas per row.
    */
  def simhash(hashes: Column, bits: Int): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(SimHashExpr(toExpression(hashes), bits))
  }

  /** SimHash band structs (band, band_bits, simhash) for `inline()` —
    * see [[SimHashBandsExpr]].
    */
  def simhashBands(hashes: Column, bits: Int, bands: Int): Column = {
    import org.apache.spark.sql.GraftColumnCompat._
    toColumn(SimHashBandsExpr(toExpression(hashes), bits, bands))
  }

  /** Exact Jaccard similarity of two pre-distinct arrays, rounded to 6
    * decimals (rounding makes the value stable across engines).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    round(inter / (size(a) + size(b) - inter), 6)
  }

  /** Dot product of two numeric arrays, computed in doubles with a
    * deterministic left-to-right fold.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"),
      (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2norm(a: Column): Column =
    sqrt(aggregate(transform(a.cast("array<double>"), x => x * x),
      lit(0.0), (acc, v) => acc + v))

  /** Cosine similarity rounded to 6 decimals (stable across engines /
    * summation orders).
    */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (l2norm(a) * l2norm(b)), 6)
}
