package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.FrameEngine
import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.Commit
import graft.streaming.Events

/** Driver contract — one [[SparkEntry.Gate]] in the [[SparkEntry.gates]]
  * registry per implemented operator from SURVEY.md §2 and the
  * LLM-pipeline extensions: the Spark query and its DuckDB oracle SQL,
  * declared together. `queries` and `oracleSql`, the two maps the driver
  * reads, are projections of it. Column names are aligned between the
  * Spark result and the oracle SQL (the driver sorts columns by name
  * before hashing values).
  */
object SparkEntry {

  /** One read path for everything: [[graft.sources.Tables.read]] owns
    * the events-ts normalization (nanosAsLong conf + whatever-encoding
    * → BIGINT nanos), so the next driver-side encoding change lands in
    * exactly one place.
    */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.read(s, dir, name)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full toLong explosion of the embeddings table.
    */
  def entry(spark: SparkSession): DataFrame =
    FrameEngine(t(spark, "/root/testdata/sf0.001", "embeddings"),
      indexcols = Seq("vec_id", "label")).toLong("embedding")

  // -------------------------------------------------------------------
  // Parity operators (SURVEY §2)
  // -------------------------------------------------------------------

  private def qAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy("l_returnflag")
      .agg(sum("l_quantity").as("sum_qty"))

  private def qStarJoin(s: SparkSession, dir: String): DataFrame = {
    // Star-schema join: small dims broadcast, fact scanned once.
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = broadcast(t(s, dir, "nation"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_lineitems"))
  }

  private def qWindowTopN(s: SparkSession, dir: String): DataFrame = {
    // Top-3 orders per customer by total price (rank-limit pushdown:
    // Spark 4 plans WindowGroupLimit, partial top-k before the shuffle).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
  }

  /** Role props (`table/datacols/indexcols/cols`, frame.py:215-250) made
    * oracle-checkable: the projection is built FROM `cols` and the role
    * lists are emitted as literal columns the oracle states independently.
    */
  private def framePropsQ(s: SparkSession, dir: String): DataFrame = {
    val eng = FrameEngine(
      t(s, dir, "part").select("p_partkey", "p_name", "p_retailprice"),
      indexcols = Seq("p_partkey"))
    eng.df.select(
      eng.cols.map(col) ++ Seq(
        lit(eng.datacols.mkString(",")).as("datacols_csv"),
        lit(eng.indexcols.mkString(",")).as("indexcols_csv")): _*)
  }

  private def toLongArray(s: SparkSession, dir: String): DataFrame =
    FrameEngine(t(s, dir, "embeddings"), indexcols = Seq("vec_id", "label"))
      .toLong("embedding")

  private def toLongMap(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      col("event_id"),
      from_json(col("props"), MapType(StringType, LongType)).as("props"))
    FrameEngine(ev, indexcols = Seq("event_id")).toLong("props")
  }

  private def toLongNested(s: SparkSession, dir: String): DataFrame = {
    // 64-dim vector reshaped to 8x8 → two explosion levels.
    val m = t(s, dir, "embeddings").select(
      col("vec_id"),
      transform(sequence(lit(0), lit(7)),
        i => slice(col("embedding"), i * lit(8) + lit(1), lit(8))).as("m"))
    FrameEngine(m, indexcols = Seq("vec_id")).toLong("m")
  }

  private def xyFrame(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id"),
      slice(col("embedding"), 1, 3).as("x"),
      slice(col("embedding"), 5, 3).as("y"))

  private def toLongMulti(s: SparkSession, dir: String): DataFrame =
    FrameEngine(xyFrame(s, dir), indexcols = Seq("vec_id")).toLong()

  /** k=4 melt: four columns merged inside each row (no exchange) — the
    * same output as the chained full-outer fold of the reference's merge.
    */
  private def toLongMulti4(s: SparkSession, dir: String): DataFrame = {
    val f = t(s, dir, "embeddings").select(
      col("vec_id"),
      slice(col("embedding"), 1, 2).as("x"),
      slice(col("embedding"), 9, 2).as("y"),
      slice(col("embedding"), 17, 2).as("z"),
      slice(col("embedding"), 25, 2).as("w"))
    FrameEngine(f, indexcols = Seq("vec_id")).toLong()
  }

  private def toLongShared(s: SparkSession, dir: String): DataFrame =
    FrameEngine(xyFrame(s, dir), indexcols = Seq("vec_id"))
      .toLong(sharedAxes = Map("axis" -> Map("x" -> 0, "y" -> 0)))

  private def toLongScalar(s: SparkSession, dir: String): DataFrame =
    FrameEngine(t(s, dir, "documents"), indexcols = Seq("doc_id"))
      .select("n_chars", "lang").toLong()

  private def toLongStruct(s: SparkSession, dir: String): DataFrame = {
    // Nested-table cells (array<struct>): pos level + field-name level in
    // one step. sort_array makes the collect order deterministic.
    val puffy = t(s, dir, "lineitem").groupBy("l_orderkey")
      .agg(sort_array(collect_list(struct(col("l_quantity"), col("l_discount"))))
        .as("item"))
    FrameEngine(puffy, indexcols = Seq("l_orderkey")).toLong("item")
  }

  private def expandColQ(s: SparkSession, dir: String): DataFrame = {
    val puffy = t(s, dir, "lineitem").groupBy("l_orderkey")
      .agg(sort_array(collect_list(struct(
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))))
        .as("items"))
    FrameEngine(puffy, indexcols = Seq("l_orderkey")).expandCol("items")
  }

  /** expandCol with named index fields (tutorial cells 18-26): the
    * declared fields join the key, no positional ordinal.
    */
  private def expandColNamed(s: SparkSession, dir: String): DataFrame = {
    val puffy = t(s, dir, "lineitem").groupBy("l_orderkey")
      .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_quantity"))))
        .as("items"))
    FrameEngine(puffy, indexcols = Seq("l_orderkey"))
      .expandCol("items", indexFields = Seq("l_linenumber"))
  }

  private def toPuffyQ(s: SparkSession, dir: String): DataFrame = {
    val puffy = FrameEngine(
      t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
      indexcols = Seq("l_orderkey", "l_linenumber"))
      .toPuffy(Seq("l_orderkey"),
        aggfunc = (_, c) => sort_array(collect_list(c)))
    // the driver comparator cannot hash array-typed cells — serialize the
    // puffy (nested) columns to comma-joined strings, doubles at 6
    // decimals (round() first so format_string never lands on a
    // HALF_UP-vs-half-even formatting tie)
    puffy.select(
      col("l_orderkey"),
      array_join(transform(col("l_linenumber"), x => x.cast("string")), ",")
        .as("l_linenumber"),
      array_join(transform(col("l_quantity"),
        x => format_string("%.6f", round(x, 6))), ",")
        .as("l_quantity"))
  }

  /** The same group-collect with the nested cells left as native arrays,
    * then projected to per-array scalars (size, first/last element) the
    * driver comparator can sort — r4's un-projected entry crashed the
    * oracle-side pandas comparator (`sort_values` cannot hash numpy array
    * cells), so its rows+schema check never ran. The native collect path
    * is still exercised (the scalars are computed FROM the un-serialized
    * arrays); the deep array-identity check is the JVM round-trip
    * property test ("toPuffy(sorted) inverts toLong", PropertySpec).
    */
  private def toPuffyNative(s: SparkSession, dir: String): DataFrame =
    FrameEngine(
      t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
      indexcols = Seq("l_orderkey", "l_linenumber"))
      .toPuffy(Seq("l_orderkey"),
        aggfunc = (_, c) => sort_array(collect_list(c)))
      .select(
        col("l_orderkey"),
        size(col("l_linenumber")).as("ln_n"),
        element_at(col("l_linenumber"), 1).as("ln_first"),
        element_at(col("l_linenumber"), -1).as("ln_last"),
        element_at(col("l_quantity"), 1).as("qty_min"),
        element_at(col("l_quantity"), -1).as("qty_max"))

  private def toPuffyAgg(s: SparkSession, dir: String): DataFrame =
    FrameEngine(
      t(s, dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber",
        "l_quantity", "l_extendedprice"),
      indexcols = Seq("l_returnflag", "l_orderkey", "l_linenumber"))
      .toPuffy(Seq("l_returnflag"), keepMissingIdcs = false,
        aggfunc = (_, c) => avg(c))

  private def toPuffyGeomean(s: SparkSession, dir: String): DataFrame = {
    // custom typed Aggregator as the toPuffy aggfunc (UDAF surface)
    val geo = udaf(graft.functions.GeoMean)
    FrameEngine(
      t(s, dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_quantity"),
      indexcols = Seq("l_returnflag", "l_orderkey", "l_linenumber"))
      .toPuffy(Seq("l_returnflag"), keepMissingIdcs = false,
        aggfunc = (_, c) => round(geo(c), 6))
  }

  /** Per-column aggfunc dict with the `"_default"` fallback
    * (`puffbird/frame.py:974-976`, `1171-1186`).
    */
  private def toPuffyDict(s: SparkSession, dir: String): DataFrame =
    FrameEngine(
      t(s, dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber",
        "l_quantity", "l_extendedprice"),
      indexcols = Seq("l_returnflag", "l_orderkey", "l_linenumber"))
      .toPuffy(Seq("l_returnflag"),
        aggfuncs = Map(
          "l_quantity" -> ((_, c) => avg(c)),
          "_default"   -> ((_, c) => max(c))),
        keepMissingIdcs = false, dropna = false)

  /** assign-to-index (`_assign_output_series`, `puffbird/frame.py:805-829`):
    * the derived column joins the key, which is what lets the follow-up
    * toPuffy group by it (toPuffy validates keys ⊆ indexcols).
    */
  private def assignIndexQ(s: SparkSession, dir: String): DataFrame =
    FrameEngine(
      t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal"),
      indexcols = Seq("c_custkey"))
      .colApply(length, "c_name", Some("name_len"), assignToIndex = true)
      .drop("c_name")
      .toPuffy(Seq("name_len"), keepMissingIdcs = false,
        aggfunc = (_, c) => avg(c))

  /** `puffy_to_long` shortcut (`puffbird/shortcuts.py:8-132`). */
  private def shortcutLongQ(s: SparkSession, dir: String): DataFrame =
    graft.core.Shortcuts.puffyToLong(
      t(s, dir, "embeddings"), cols = Seq("embedding"),
      indexcols = Seq("vec_id", "label"))

  private def multidPivotQ(s: SparkSession, dir: String): DataFrame =
    FrameEngine(t(s, dir, "lineitem"),
      indexcols = Seq("l_orderkey", "l_linenumber"))
      .multidPivot(Seq("l_extendedprice"), Seq("l_returnflag", "l_linestatus"))

  /** multidPivot with a non-default aggfunc — the reference docstring's
    * promised `aggfunc` (`frame.py:1065-1067`, divergence #4).
    */
  private def multidPivotAgg(s: SparkSession, dir: String): DataFrame =
    FrameEngine(t(s, dir, "lineitem"),
      indexcols = Seq("l_orderkey", "l_linenumber"))
      .multidPivot(Seq("l_extendedprice", "l_quantity"),
        Seq("l_returnflag", "l_linestatus"),
        aggfunc = (n, c) => if (n == "l_quantity") sum(c) else max(c))

  private def multidPivotWideQ(s: SparkSession, dir: String): DataFrame =
    FrameEngine(t(s, dir, "lineitem"),
      indexcols = Seq("l_orderkey", "l_linenumber"))
      .multidPivotWide("l_extendedprice", "l_returnflag", "l_linestatus",
        colValues = Seq("F", "O"))

  private def colApplyQ(s: SparkSession, dir: String): DataFrame =
    FrameEngine(t(s, dir, "customer"), indexcols = Seq("c_custkey"))
      .select("c_name")
      .colApply(upper, "c_name", Some("c_name_upper")).df

  private def rowApplyQ(s: SparkSession, dir: String): DataFrame =
    FrameEngine(
      t(s, dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"),
      indexcols = Seq("l_orderkey", "l_linenumber"))
      .applyRow(cs => cs(0) * (lit(1.0) - cs(1)),
        Seq("l_extendedprice", "l_discount"), "revenue").df

  private def getitemQ(s: SparkSession, dir: String): DataFrame =
    FrameEngine(t(s, dir, "part"), indexcols = Seq("p_partkey"))
      .select("p_name", "p_retailprice").df

  private def dropRenameQ(s: SparkSession, dir: String): DataFrame =
    FrameEngine(t(s, dir, "supplier"), indexcols = Seq("s_suppkey"))
      .drop("s_acctbal")
      .rename(Map("s_name" -> "supplier_name")).df

  private def toLongExpand(s: SparkSession, dir: String): DataFrame = {
    // expand_cols path inside toLong: struct fields stay separate
    // columns, prefixed "{col}_" (`puffbird/frame.py:489-503`).
    val puffy = t(s, dir, "lineitem").groupBy("l_orderkey")
      .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_quantity"))))
        .as("items"))
    FrameEngine(puffy, indexcols = Seq("l_orderkey"))
      .toLong(selCols = Seq("items"), expandCols = Seq("items"))
  }

  private def puffyRoundtrip(s: SparkSession, dir: String): DataFrame = {
    // applyRow → toPuffy → expandCol reproduces the original projection:
    // rows are packed as correlated structs (zipping independently
    // collected columns would break row correlation).
    val puffy = FrameEngine(
      t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
      indexcols = Seq("l_orderkey", "l_linenumber"))
      .applyRow(cs => struct(cs(0), cs(1)),
        Seq("l_linenumber", "l_quantity"), "item")
      .select("item")
      .toPuffy(Seq("l_orderkey"), keepMissingIdcs = false,
        aggfunc = (_, c) => sort_array(collect_list(c)))
    FrameEngine(puffy, indexcols = Seq("l_orderkey")).expandCol("item")
  }

  private def identifierSanitize(s: SparkSession, dir: String): DataFrame = {
    // enforce_identifier_string parity: messy source names are sanitized
    // while methods still accept the originals.
    val messy = t(s, dir, "part").select(
      col("p_partkey").as("part key"),
      col("p_name").as("part#name"),
      col("p_retailprice").as("retail.price"))
    FrameEngine(messy, indexcols = Seq("part key"),
      enforceIdentifierString = true)
      .select("part#name", "retail.price").df
  }

  private def toLongMixed(s: SparkSession, dir: String): DataFrame = {
    // Heterogeneous cells (SURVEY §7.5): a column whose rows are JSON
    // arrays, objects, or scalars — per-cell dispatch via the
    // JsonExplodeExpr generator (toLong iterable override). Arrays give
    // position levels, objects key levels, scalars null levels.
    val m3 = col("doc_id") % 3
    val src = docs(s, dir).select(col("doc_id"),
      when(m3 === 0,
        concat(lit("["), col("n_chars"), lit(","), col("doc_id"), lit("]")))
        .when(m3 === 1,
          concat(lit("{\"a\":"), col("n_chars"), lit(",\"b\":\""),
            col("lang"), lit("\"}")))
        .otherwise(col("n_chars").cast("string")).as("v"))
    FrameEngine(src, indexcols = Seq("doc_id"))
      .toLong(selCols = Seq("v"), maxDepth = 2,
        iterable = Map("v" -> graft.core.Explode.jsonStep))
  }

  private def toLongVariant(s: SparkSession, dir: String): DataFrame = {
    // Same mixed cells as to_long_mixed but via native VariantType:
    // parse_json → automatic VariantStep dispatch in toLong (no override
    // needed), final variant rendered back to JSON text for the oracle.
    val m3 = col("doc_id") % 3
    val src = docs(s, dir).select(col("doc_id"),
      parse_json(
        when(m3 === 0,
          concat(lit("["), col("n_chars"), lit(","), col("doc_id"), lit("]")))
          .when(m3 === 1,
            concat(lit("{\"a\":"), col("n_chars"), lit(",\"b\":\""),
              col("lang"), lit("\"}")))
          .otherwise(col("n_chars").cast("string"))).as("v"))
    FrameEngine(src, indexcols = Seq("doc_id"))
      .toLong(selCols = Seq("v"), maxDepth = 2)
      .withColumn("v", to_json(col("v")))
  }

  // -------------------------------------------------------------------
  // LLM-pipeline extensions: dedup / similarity / text / multimodal /
  // events (north-star scope, SURVEY §7.6)
  // -------------------------------------------------------------------

  private def docs(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir), "doc_id", "text")

  private def dedupExactNorm(s: SparkSession, dir: String): DataFrame =
    Dedup.exactNormalized(docs(s, dir), "doc_id", "text")

  private def dedupMinhashSig(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(docs(s, dir), "doc_id", "text")

  private def dedupLshPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text")

  private def dedupLshCharQ(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairsChar(docs(s, dir), "doc_id", "text")

  /** Incremental dedup index, build half: the index is built from the
    * corpus slice and LOADED back; the emitted rows are the persisted
    * exact-dedup state, so hash-matching the oracle's direct aggregate
    * proves the artifact round-trips byte-exactly.
    */
  private def dedupIndexPersistQ(s: SparkSession, dir: String): DataFrame = {
    val corpus = docs(s, dir).filter(col("doc_id") % 3 =!= 0)
    val path = s"/tmp/graft_dedupidx_${Integer.toHexString(dir.hashCode)}"
    graft.sources.DedupIndex.build(corpus, "doc_id", "text", path)
    val idx = graft.sources.DedupIndex.load(s, path)
    require(idx.shingleN == 3 && idx.numHashes == 16 && idx.bands == 8,
      "dedup-index meta must round-trip")
    idx.hashes.select(col("text_hash"), col("keep_id"))
  }

  /** Incremental dedup index, append half: the index is built from two
    * thirds of the corpus, the remaining third arrives as a batch, and
    * the surviving batch docs must hash-match the from-scratch union
    * run (the oracle replays exact-then-LSH over ALL docs with
    * arrival-order priority: corpus outranks batch, lower id wins
    * within the batch) — proving a crawl batch dedups against the
    * frozen artifacts, corpus text untouched, with results identical
    * to rescanning everything.
    */
  private def dedupIndexAppendQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val path = s"/tmp/graft_dedupidx_app_${Integer.toHexString(dir.hashCode)}"
    graft.sources.DedupIndex.build(
      d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", path)
    graft.sources.DedupIndex.append(s, path,
        d.filter(col("doc_id") % 3 === 0), "doc_id", "text")
      .select(col("doc_id"), col("n_chars"))
  }

  /** Compaction parity gate, exact/near-dup family: build on the
    * %3!=0 corpus, absorb the %6==0 batch, COMPACT (hashes fold to
    * one row per hash with the arrival-order owner, buckets to
    * distinct rows, both back at the build file layout), then absorb
    * the %6==3 batch against the COMPACTED artifacts. The final
    * batch's survivors must hash-match the from-scratch three-group
    * replay — which equals the uncompacted run by the telescoping
    * property, so the oracle certifies probe parity across the
    * compaction boundary.
    */
  private def dedupIndexCompactQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val path = s"/tmp/graft_dedupidx_cpt_${Integer.toHexString(dir.hashCode)}"
    graft.sources.DedupIndex.build(
      d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", path)
    graft.sources.DedupIndex.append(s, path,
      d.filter(col("doc_id") % 6 === 0), "doc_id", "text")
    graft.sources.DedupIndex.compact(s, path)
    graft.sources.DedupIndex.append(s, path,
        d.filter(col("doc_id") % 6 === 3), "doc_id", "text")
      .select(col("doc_id"), col("n_chars"))
  }

  /** Incremental SUBSTRING dedup gate: the license block is planted on
    * every fifth doc across BOTH halves of the corpus split, the index
    * is built on the %3!=0 half (storing all its gram hashes and
    * rewriting it), and the %3==0 half appends — its planted blocks
    * must be removed because the INDEX holds the first occurrence,
    * plus any batch-internal repeats. Emitted as the union of both
    * rewrites; the oracle replays the from-scratch run under
    * arrival-order priority (build half outranks the batch regardless
    * of numeric id interleaving — the ORDER BY grp, doc_id, gpos).
    */
  private def dedupIndexSubstringQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_dedupidx_sub_${Integer.toHexString(dir.hashCode)}"
    val planted = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(lit(SubstringBoilerplate + " "), col("text")))
        .otherwise(col("text")).as("text"))
    val aRew = graft.sources.DedupIndex.buildSubstring(
      planted.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", path,
      spanWords = 12)
    val bRew = graft.sources.DedupIndex.appendSubstring(s, path,
      planted.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    aRew.union(bRew)
  }

  /** Incremental SEMANTIC dedup gate (the fourth index family): the
    * semantic index is built on the %3!=0 embeddings against the
    * shared centroid fixture (every 100th vector), the %3==0 half
    * appends against the frozen artifact, and the union of the two
    * survivor sets must equal a from-scratch SemDeDup over the whole
    * table under arrival-order priority — the oracle replays the drop
    * rule with the (grp, vec_id) precedence the two-step run induces.
    */
  private def dedupIndexSemanticQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val path = s"/tmp/graft_dedupidx_sem_${Integer.toHexString(dir.hashCode)}"
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    val aSurv = graft.sources.DedupIndex.buildSemantic(
      e.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding",
      centroids, tau = 0.3, path)
    val bSurv = graft.sources.DedupIndex.appendSemantic(s, path,
      e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding")
    aSurv.union(bSurv)
  }

  /** Compaction parity, SUBSTRING family: [[dedupIndexSubstringQ]]
    * with a [[graft.sources.DedupIndex.compactSubstring]] between
    * build and append — the gram artifact folds to distinct hashes at
    * the build layout and the batch rewrite must be unchanged, so the
    * family's from-scratch oracle is shared verbatim.
    */
  private def dedupIndexCompactSubQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_dedupidx_csb_${Integer.toHexString(dir.hashCode)}"
    val planted = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(lit(SubstringBoilerplate + " "), col("text")))
        .otherwise(col("text")).as("text"))
    val aRew = graft.sources.DedupIndex.buildSubstring(
      planted.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", path,
      spanWords = 12)
    graft.sources.DedupIndex.compactSubstring(s, path)
    val bRew = graft.sources.DedupIndex.appendSubstring(s, path,
      planted.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    aRew.union(bRew)
  }

  /** Compaction parity, SEMANTIC family: [[dedupIndexSemanticQ]] with
    * a [[graft.sources.DedupIndex.compactSemantic]] between build and
    * append — vec_id folds and the cell-clustered layout are restored
    * with the vector set unchanged, so the family's from-scratch
    * oracle is shared verbatim.
    */
  private def dedupIndexCompactSemQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val path = s"/tmp/graft_dedupidx_csm_${Integer.toHexString(dir.hashCode)}"
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    val aSurv = graft.sources.DedupIndex.buildSemantic(
      e.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding",
      centroids, tau = 0.3, path)
    graft.sources.DedupIndex.compactSemantic(s, path)
    val bSurv = graft.sources.DedupIndex.appendSemantic(s, path,
      e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding")
    aSurv.union(bSurv)
  }

  /** Streaming SEMANTIC-index gate: same build half and centroid
    * fixture as [[dedupIndexSemanticQ]], with the %3==0 half streamed
    * through [[graft.streaming.StreamingDedup.indexedSemanticStream]]
    * — the telescoping property makes the surviving set independent of
    * micro-batching, so the oracle is shared verbatim (one source file
    * = one micro-batch, whose within-batch priority matches the
    * oracle's (grp, vec_id) ordering).
    */
  private def streamingDedupSemanticQ(s: SparkSession, dir: String): DataFrame = {
    val idx = s"/tmp/graft_sdsem_${Integer.toHexString(dir.hashCode)}"
    val out = s"/tmp/graft_sdsem_out_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, idx, out)
    val e = embs(s, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    val aSurv = graft.sources.DedupIndex.buildSemantic(
      e.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding",
      centroids, tau = 0.3, idx)
    graft.streaming.StreamingDedup.indexedSemanticStream(
        embStream(s, dir).filter(col("vec_id") % 3 === 0),
        idx, out, "vec_id", "embedding")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    aSurv.union(
      s.read.parquet(out).select(col("vec_id"), col("centroid_id")))
  }

  /** PERSISTENT-INDEX streaming dedup gate: the index is built on the
    * %3!=0 half (fresh artifacts — markers and prior outputs wiped
    * first so bench reps stay deterministic), the %3==0 half streams
    * through [[graft.streaming.StreamingDedup.indexedDedupStream]]
    * (foreachBatch → `DedupIndex.ingestBatch`), and the emitted
    * survivor set must equal the BATCH append's — the oracle is
    * [[dedupIndexAppendQ]]'s, shared verbatim. That equality needs the
    * stream's arrival order to match the batch oracle's min-id
    * priority: here the source is ONE parquet file processed as ONE
    * AvailableNow micro-batch, whose within-batch rule IS min-id;
    * cross-micro-batch arrivals resolve by arrival order instead (the
    * operator's documented contract — the multi-batch case is
    * spec-covered with id-ordered arrival).
    */
  private def streamingDedupIndexQ(s: SparkSession, dir: String): DataFrame = {
    val idx = s"/tmp/graft_sdidx_${Integer.toHexString(dir.hashCode)}"
    val out = s"/tmp/graft_sdidx_out_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, idx, out)
    val d = docs(s, dir)
    graft.sources.DedupIndex.build(
      d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", idx)
    graft.streaming.StreamingDedup.indexedDedupStream(
        docStream(s, dir).filter(col("doc_id") % 3 === 0),
        idx, out, "doc_id", "text")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    s.read.parquet(out).select(col("doc_id"), col("n_chars"))
  }

  /** Streaming SUBSTRING-index gate ([[dedupIndexSubstringQ]]'s plant
    * and split): the gram index is built on the %3!=0 half (its
    * rewrite emitted batch-side), the %3==0 half streams through
    * [[graft.streaming.StreamingDedup.indexedSubstringStream]], and
    * the union must equal the batch composition — oracle shared
    * verbatim with `dedup_index_substring` (valid for the same reason
    * as [[streamingDedupIndexQ]]: one source file = one micro-batch,
    * whose within-batch priority matches the oracle's (grp, id, pos)
    * ordering).
    */
  private def streamingSubstringIndexQ(s: SparkSession, dir: String): DataFrame = {
    val idx = s"/tmp/graft_ssidx_${Integer.toHexString(dir.hashCode)}"
    val out = s"/tmp/graft_ssidx_out_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, idx, out)
    def plant(d: DataFrame): DataFrame = d.select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(lit(SubstringBoilerplate + " "), col("text")))
        .otherwise(col("text")).as("text"))
    val aRew = graft.sources.DedupIndex.buildSubstring(
      plant(docs(s, dir)).filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", idx, spanWords = 12)
    graft.streaming.StreamingDedup.indexedSubstringStream(
        plant(docStream(s, dir)).filter(col("doc_id") % 3 === 0),
        idx, out, "doc_id", "text")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    aRew.union(s.read.parquet(out)
      .select(col("doc_id"), col("text_kept"),
        col("n_words_kept"), col("n_words_dropped")))
  }

  /** HLL register sketch over the corpus's document texts (p = 12,
    * ~1.6% standard error): the register table IS what a 100 TB
    * deployment persists — ≤ 2^p rows for ANY corpus, built by one
    * partial-aggregable groupBy whose map-side combine bounds the
    * shuffle at 2^p rows per partition. Every register is integer/
    * string arithmetic (md5-prefix hash, bin()-length rank) the oracle
    * replays bit-for-bit, so the gate hash-matches the full table —
    * the sketch itself, not just its estimate.
    */
  private def sketchHllQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.hllRegisters(docs(s, dir), col("text"), p = 12)
      .select(col("bucket"), col("max_rank"))

  /** The estimator over those registers: exact-integer inverse-power
    * sum (order-independent — see Sketches scaladoc), one double
    * conversion, the published small-range correction. Rounding to 6
    * is the HARNESS projection (API returns raw doubles, the r13
    * langIdScore lesson). BOTH sfs land in the linear-counting branch
    * (the synthetic corpus tops out near ~5k distinct texts < 2.5·m);
    * the harmonic arm is spec-pinned at 50k distinct values
    * (OperatorsSpec), not oracle-gated.
    */
  private def sketchHllEstimateQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.distinctApprox(docs(s, dir), col("text"), p = 12)
      .select(col("m"), col("v_zero"),
        round(col("raw_estimate"), 6).as("raw_estimate"),
        round(col("estimate"), 6).as("estimate"))

  /** Grouped sketch gate: one register table per SOURCE in one corpus
    * pass — the operational "distinct docs per domain" query — with the
    * per-group estimator on top. Oracle replays the whole pipeline
    * partitioned by source.
    */
  private def sketchHllGroupedQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.hllEstimateBy(
      graft.operators.Sketches.hllRegistersBy(
        docs(s, dir), Seq("source"), col("text"), p = 12),
      Seq("source"), p = 12)
      .select(col("source"), col("m"), col("v_zero"),
        round(col("raw_estimate"), 6).as("raw_estimate"),
        round(col("estimate"), 6).as("estimate"))

  /** Global bottom-k sample gate: the 50 smallest-hash documents with
    * payload columns riding the broadcast join-back — the oracle
    * replays the global hash ranking.
    */
  private def sampleBottomkQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.bottomKSample(
      docs(s, dir).select(col("doc_id"), col("lang"), col("source")),
      "doc_id", k = 50)
      .select(col("doc_id"), col("lang"), col("source"), col("sample_rank"))

  /** Persisted sample-index merge gate: even-id half written, odd-id
    * half appended; bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪
    * bottom-k(B)), so the loaded epoch must be EXACTLY the from-scratch
    * sample — `sample_bottomk`'s oracle, shared verbatim.
    */
  private def sampleBottomkMergeQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_bks_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, path)
    val d = docs(s, dir).select(col("doc_id"), col("lang"), col("source"))
    graft.operators.Sampling.writeSampleIndex(
      d.filter(col("doc_id") % 2 === 0), "doc_id", path, k = 50)
    graft.operators.Sampling.appendSampleIndex(
      d.filter(col("doc_id") % 2 =!= 0), "doc_id", path)
    val loaded = graft.operators.Sampling.loadSampleIndex(s, path)
    require(loaded.k == 50, "sample-index meta must round-trip")
    loaded.rows
      .select(col("doc_id"), col("lang"), col("source"), col("sample_rank"))
  }

  /** Streaming sample-index ingestion: the document stream folds into
    * the artifact per micro-batch (replay-safe by the anti-join, no
    * markers), and the committed sample must equal the batch draw —
    * `sample_bottomk`'s oracle shared verbatim for any micro-batching
    * (the bottom-k merge law).
    */
  private def streamingSampleIndexQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_bks_stream_${Integer.toHexString(dir.hashCode)}"
    val ckpt = s"/tmp/graft_bks_ckpt_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, path, ckpt)
    graft.operators.Sampling.sampleIngestStream(
        docStream(s, dir).select(col("doc_id"), col("lang"), col("source")),
        "doc_id", path, k = 50)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    graft.operators.Sampling.loadSampleIndex(s, path).rows
      .select(col("doc_id"), col("lang"), col("source"), col("sample_rank"))
  }

  /** CCNet head/middle/tail bucketing per language: the oracle replays
    * the surprisal scorer, the per-(lang, score) cumulative fractions,
    * and the value-threshold bucket CASE end-to-end.
    */
  private def qualityBucketsQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityBuckets(docs(s, dir), "doc_id", "text", "lang")

  /** CCNet gate inside curate: length gate → exact-normalized dedup →
    * per-lang LM terciles ON THE SURVIVORS (the paper's dedup-then-LM
    * order) keeping head+middle → split hash. The oracle replays the
    * whole chain, training the LM on the deduped corpus exactly as the
    * stage does.
    */
  private def curateCcnetQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pipeline.curate(docs(s, dir), "doc_id", "text",
        minChars = 100, ccnetBucketBy = "lang")
      .select(col("doc_id"), col("split"))

  /** Streaming CCNet bucketing: the model (frozen LM + per-lang
    * thresholds) trains batch-side and is localCheckpointed, then the
    * document stream scores against it per micro-batch — stateless
    * ingest-time deployment (the paper's own shape: LM trained
    * offline, every crawl snapshot bucketed against it). Output ≡ the
    * batch bucketing, so `quality_buckets`' oracle is shared verbatim.
    */
  private def streamingQualityBucketsQ(s: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_qb_out_${Integer.toHexString(dir.hashCode)}"
    val ckpt = s"/tmp/graft_qb_ckpt_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, out, ckpt)
    val m0 = TextAnalysis.qualityBucketTrain(
      docs(s, dir), "doc_id", "text", "lang")
    val model = m0.copy(vocab = m0.vocab.localCheckpoint(),
      thresholds = m0.thresholds.localCheckpoint())
    TextAnalysis.qualityBucketScoreStream(
        docStream(s, dir).select(col("doc_id"), col("lang"), col("text")),
        "doc_id", "text", model, out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    s.read.parquet(out)
      .select(col("doc_id"), col("lang"), col("surprisal"), col("bucket"))
  }

  /** HLL set algebra gate: even/odd text sketches, overlap by
    * inclusion-exclusion — oracle replays the full-outer bucket join
    * and all three estimator arms.
    */
  private def sketchHllOverlapQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val a = graft.operators.Sketches.hllRegisters(
      d.filter(col("doc_id") % 2 === 0), col("text"), p = 12)
    val b = graft.operators.Sketches.hllRegisters(
      d.filter(col("doc_id") % 2 =!= 0), col("text"), p = 12)
    graft.operators.Sketches.hllOverlapEstimate(a, b, p = 12)
      .select(col("m"), round(col("est_a"), 6).as("est_a"),
        round(col("est_b"), 6).as("est_b"),
        round(col("est_union"), 6).as("est_union"),
        round(col("est_intersection"), 6).as("est_intersection"),
        round(col("est_jaccard"), 6).as("est_jaccard"),
        round(col("containment_a"), 6).as("containment_a"),
        round(col("containment_b"), 6).as("containment_b"))
  }

  /** Corpus datasheet gate: the inventory frame over the raw corpus —
    * oracle replays counts, fixture-BPE token sum, the HLL estimate,
    * and per-source counts as one UNION ALL.
    */
  private def corpusDatasheetQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pipeline.datasheet(
      docs(s, dir), "doc_id", "text", "source")
      .select(col("metric"), round(col("value"), 6).as("value"))

  /** Dataset-card gate for a PUBLISHED snapshot — the consumer flow:
    * audit what you downloaded. The corpus publishes through the
    * release sink (real gzip-JSONL shards + manifest) and the
    * datasheet runs over the LOADED rows; since the release holds
    * exactly the corpus, the inventory hash-matches
    * [[corpusDatasheetQ]]'s oracle verbatim — the whole
    * publish/load/inventory chain is load-bearing.
    */
  private def releaseDatasheetQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"/tmp/graft_release_ds_${Integer.toHexString(dir.hashCode)}"
    val d = docs(s, dir).select("doc_id", "text", "lang", "source")
    graft.sources.Release.writeRelease(d, "doc_id", "text", path,
      nShards = 8)
    val loaded = graft.sources.Release.loadRelease(s, path,
      StructType(d.schema.fields :+ StructField("shard", LongType)))
    require(graft.sources.Release
        .validateRelease(loaded, "doc_id", "text").isEmpty,
      "published release must verify before it is inventoried")
    graft.operators.Pipeline.datasheet(
      loaded.rows, "doc_id", "text", "source")
      .select(col("metric"), round(col("value"), 6).as("value"))
  }

  /** Release-to-release drift: two snapshots published through the
    * sink (B with a planted truncation bias), consumer-loaded and
    * manifest-validated, then PSI/KS over the loaded text lengths —
    * the "did the new release's distribution move" audit run the way a
    * consumer would run it, off the published artifact.
    */
  private def releaseDriftQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val hex = Integer.toHexString(dir.hashCode)
    val d = docs(s, dir).select("doc_id", "text", "lang", "source")
    val pa = s"/tmp/graft_rel_drift_a_$hex"
    val pb = s"/tmp/graft_rel_drift_b_$hex"
    graft.sources.Release.writeRelease(d, "doc_id", "text", pa, nShards = 8)
    graft.sources.Release.writeRelease(
      d.filter(length(col("text")) <= 300), "doc_id", "text", pb,
      nShards = 8)
    val schema = StructType(d.schema.fields :+ StructField("shard", LongType))
    val la = graft.sources.Release.loadRelease(s, pa, schema)
    val lb = graft.sources.Release.loadRelease(s, pb, schema)
    require(
      graft.sources.Release.validateRelease(la, "doc_id", "text").isEmpty &&
      graft.sources.Release.validateRelease(lb, "doc_id", "text").isEmpty,
      "published releases must verify before drift scoring")
    graft.operators.Sketches.distributionDrift(
      la.rows.withColumn("len", length(col("text"))),
      lb.rows.withColumn("len", length(col("text"))),
      "len", nBins = 20, lo = 0, hi = 600)
  }

  /** The whitespace word projection shared by every CMS gate (batch,
    * merge, streaming): ONE definition, because the three gates share
    * one DuckDB oracle and their word derivation must stay
    * bit-identical.
    */
  private def docWordsOf(d: DataFrame): DataFrame =
    d.select(explode(
        split(trim(lower(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)

  private def docWords(s: SparkSession, dir: String): DataFrame =
    docWordsOf(docs(s, dir))

  /** CMS counter-table gate: word frequencies of the whole corpus into
    * a 4×1024 counter table — hash-matched in full, like `sketch_hll`'s
    * registers (the artifact itself is verified, not just reads off it).
    */
  private def sketchCmsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.cmsCounters(
      docWords(s, dir), col("w"), depth = 4, width = 1024)

  /** CMS point-estimate gate: the 10 exact-top words (deterministic
    * count-then-word tie-break) estimated from the sketch next to their
    * exact counts — the oracle replays both sides, and the
    * never-underestimate property is visible in the emitted rows.
    */
  private def sketchCmsPointQ(s: SparkSession, dir: String): DataFrame = {
    val ws = docWords(s, dir)
    val top = ws.groupBy(col("w")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("w")).limit(10)
    graft.operators.Sketches.cmsEstimate(
      graft.operators.Sketches.cmsCounters(ws, col("w"), 4, 1024),
      top, col("w"), 4, 1024)
  }

  /** Streaming CMS ingestion gate: the word stream drains through
    * ingestCmsBatch (exactly-once batch-id cursor in the epoch meta),
    * and the committed counters must equal the batch table —
    * `sketch_cms`'s oracle shared verbatim: counter-wise sum over any
    * batching telescopes, and the cursor makes replays no-ops rather
    * than double-counts.
    */
  private def streamingCmsQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_cms_stream_${Integer.toHexString(dir.hashCode)}"
    val ckpt = s"/tmp/graft_cms_ckpt_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, path, ckpt)
    val wordsStream = docWordsOf(docStream(s, dir))
    graft.operators.Sketches.cmsIngestStream(
        wordsStream, col("w"), path, depth = 4, width = 1024)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val loaded = graft.operators.Sketches.loadCms(s, path)
    require(loaded.depth == 4 && loaded.width == 1024,
      "cms meta must round-trip")
    loaded.counters
  }

  /** Persisted-CMS merge gate: even-id half written, odd-id half
    * appended through the artifact; counter-wise sum telescopes to the
    * from-scratch table, so the oracle is `sketch_cms`'s verbatim.
    */
  private def sketchCmsMergeQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_cms_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, path)
    val d = docs(s, dir)
    graft.operators.Sketches.writeCms(
      docWordsOf(d.filter(col("doc_id") % 2 === 0)), col("w"), path, 4, 1024)
    graft.operators.Sketches.appendCms(
      docWordsOf(d.filter(col("doc_id") % 2 =!= 0)), col("w"), path)
    val loaded = graft.operators.Sketches.loadCms(s, path)
    require(loaded.depth == 4 && loaded.width == 1024,
      "cms meta must round-trip")
    loaded.counters
  }

  /** Persisted-sketch merge gate: sketch the even-id half into the
    * versioned artifact, append the odd-id half (one pass over the
    * BATCH only — the point of a mergeable sketch), load the committed
    * epoch. Register-wise max is a CRDT join, so the merged table must
    * equal the from-scratch sketch of the whole corpus — the oracle is
    * `sketch_hll`'s, shared verbatim.
    */
  private def sketchHllMergeQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_hll_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, path)
    val d = docs(s, dir)
    graft.operators.Sketches.writeHll(
      d.filter(col("doc_id") % 2 === 0), col("text"), path, p = 12)
    graft.operators.Sketches.appendHll(
      d.filter(col("doc_id") % 2 =!= 0), col("text"), path)
    val loaded = graft.operators.Sketches.loadHll(s, path)
    require(loaded.p == 12, "sketch meta must round-trip")
    loaded.registers.select(col("bucket"), col("max_rank"))
  }

  /** Streaming sketch ingestion: the document stream drains through
    * foreachBatch → appendHll (idempotent max-merge — at-least-once
    * replay safe with NO marker protocol, unlike the dedup index's
    * ingest path), and the committed registers must equal the batch
    * sketch — `sketch_hll`'s oracle shared verbatim, valid for ANY
    * micro-batching because the merge is order/batching-invariant.
    */
  private def streamingSketchQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_hll_stream_${Integer.toHexString(dir.hashCode)}"
    val ckpt = s"/tmp/graft_hll_ckpt_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, path, ckpt)
    graft.operators.Sketches.hllIngestStream(
        docStream(s, dir), col("text"), path, p = 12)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    graft.operators.Sketches.loadHll(s, path)
      .registers.select(col("bucket"), col("max_rank"))
  }

  /** Per-group quantile summary gate: p25/50/75 of doc length per
    * language, estimated from the k-per-group bottom-k sample — the
    * oracle replays the hash ranking and interpolates over the same
    * sample rows.
    */
  private def sketchQuantileQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.quantileEstimateBy(
      graft.operators.Sketches.quantileSummaryBy(
        docs(s, dir), "doc_id", "n_chars", "lang", k = 64),
      "lang", "n_chars")

  /** Deterministic-KLL build gate: the closed-form compactor sketch of
    * n_chars per language at k = 16 (small k so the cascade reaches
    * several levels at this SF). The oracle replays the rank
    * arithmetic — chunk index, highest differing bit vs C, offset and
    * stride selection — in DuckDB; output is the per-(lang, level,
    * value) multiset with multiplicities.
    */
  private def sketchKllQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.kllSketchBy(
        docs(s, dir), "n_chars", "lang", k = 16)
      .groupBy(col("lang"), col("level"), col("value"))
      .agg(count(lit(1)).as("n"))

  /** KLL quantile-estimate gate over the same build: the smallest
    * value whose cumulative weight covers q·n — exact integer
    * comparisons, engine-replayable.
    */
  /** Adaptive-threshold curation gate: keep each language's docs at or
    * above the lang's sharded-KLL median of `n_chars` — the
    * per-domain-adaptive quality gate, cutoffs from bounded-state
    * sketches, replayed end-to-end (sharded closed form → weighted
    * cumulative quantile pick → join+filter).
    */
  private def curateAdaptiveQualityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.filterAboveQuantileBy(
      docs(s, dir).select("doc_id", "lang", "n_chars"),
      "doc_id", "n_chars", "lang", "p50", k = 16, shards = 4)
      .select("doc_id", "lang", "n_chars")

  private def sketchKllEstimateQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.kllQuantilesBy(
      graft.operators.Sketches.kllSketchBy(
        docs(s, dir), "n_chars", "lang", k = 16), "lang")

  /** KLL merge gate: sketch the doc_id-parity halves independently and
    * compact their union — the weighted closed form (each sketch row
    * expands to 2^level positions) replayed end-to-end by the oracle,
    * merge telescoping included (compact(sketch(A) ∪ sketch(B)) IS the
    * canonical sketch of the expanded multiset).
    */
  private def sketchKllMergeQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val a = graft.operators.Sketches.kllSketchBy(
      d.filter(col("doc_id") % 2 === 0), "n_chars", "lang", 16)
    val b = graft.operators.Sketches.kllSketchBy(
      d.filter(col("doc_id") % 2 === 1), "n_chars", "lang", 16)
    graft.operators.Sketches.kllCompactBy(a.unionByName(b), "lang", 16)
      .groupBy(col("lang"), col("level"), col("value"))
      .agg(count(lit(1)).as("n"))
  }

  /** Sharded-KLL gate — the monster-group scale path: each language's
    * stream pre-split by `hash60(doc_id) % 4`, per-shard closed-form
    * sketches folded by ONE weighted compact. The oracle replays both
    * stages (per-(lang, salt) rank arithmetic, then the weighted
    * span/stride fan-out), proving determinism survives the split.
    */
  private def sketchKllShardedQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.kllSketchSharded(
        docs(s, dir), "doc_id", "n_chars", "lang", k = 16, shards = 4)
      .groupBy(col("lang"), col("level"), col("value"))
      .agg(count(lit(1)).as("n"))

  /** Streaming-KLL gate: artifact built on the %3!=0 half, the %3==0
    * half streamed through [[graft.operators.Sketches.kllIngestStream]]
    * (one AvailableNow micro-batch), then REPLAYED under a fresh
    * checkpoint — the batch-id cursor must no-op the double delivery
    * (a replay that merged again would double every weight). Output =
    * the loaded epoch's rows; oracle = the merge replay over the two
    * halves.
    */
  private def streamingKllQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_skll_${Integer.toHexString(dir.hashCode)}"
    val ck1 = s"${path}_ck1"; val ck2 = s"${path}_ck2"
    Commit.tombstone(s, path, ck1, ck2)
    graft.operators.Sketches.writeKll(
      docs(s, dir).filter(col("doc_id") % 3 =!= 0), "n_chars", "lang",
      path, k = 16)
    def run(ckpt: String): Unit =
      graft.operators.Sketches.kllIngestStream(
          docStream(s, dir).filter(col("doc_id") % 3 === 0),
          "n_chars", "lang", path, k = 16)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    run(ck1)
    run(ck2) // fresh checkpoint: batch 0 re-delivers, cursor no-ops
    graft.operators.Sketches.loadKll(s, path).rows
      .groupBy(col("lang"), col("level"), col("value"))
      .agg(count(lit(1)).as("n"))
  }

  /** Quantile-summary artifact merge gate: build on the even half,
    * fold the odd half in, and the loaded epoch's estimates must equal
    * the from-scratch sample's — bottom-k(A ∪ B) =
    * bottom-k(bottom-k(A) ∪ bottom-k(B)) per group, so the oracle is
    * [[sketchQuantileQ]]'s, shared verbatim.
    */
  private def sketchQuantileMergeQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_qtl_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, path)
    val d = docs(s, dir)
    graft.operators.Sketches.writeQuantile(
      d.filter(col("doc_id") % 2 === 0), "doc_id", "n_chars", "lang",
      path, k = 64)
    graft.operators.Sketches.appendQuantile(
      d.filter(col("doc_id") % 2 =!= 0), "doc_id", "n_chars", "lang", path)
    val loaded = graft.operators.Sketches.loadQuantile(s, path)
    require(loaded.k == 64, "quantile meta must round-trip")
    graft.operators.Sketches.quantileEstimateBy(
      loaded.rows, "lang", "n_chars")
  }

  /** Streaming quantile-summary ingestion: the document stream drains
    * through foreachBatch → appendQuantile (replay-safe by the
    * arrival-priority anti-join — no marker protocol), and the
    * committed sample's estimates must equal the batch run's — oracle
    * shared verbatim (the per-group bottom-k law is micro-batching
    * invariant).
    */
  private def streamingQuantileQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_qtl_stream_${Integer.toHexString(dir.hashCode)}"
    val ckpt = s"/tmp/graft_qtl_ckpt_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, path, ckpt)
    graft.operators.Sketches.quantileIngestStream(
        docStream(s, dir), "doc_id", "n_chars", "lang", path, k = 64)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    graft.operators.Sketches.quantileEstimateBy(
      graft.operators.Sketches.loadQuantile(s, path).rows,
      "lang", "n_chars")
  }

  /** Dataset-release gate: documents published as 8 content-addressed
    * gzip JSONL shards with a per-shard manifest (docs, chars,
    * order-independent XOR checksum), read back, audited
    * (validateRelease must return zero disagreements — the JSONL
    * round-trip is load-bearing for the emitted manifest), and the
    * manifest hash-matched against an oracle recomputing every stat.
    */
  private def releaseManifestQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"/tmp/graft_release_${Integer.toHexString(dir.hashCode)}"
    val d = docs(s, dir).select("doc_id", "text", "lang")
    graft.sources.Release.writeRelease(d, "doc_id", "text", path,
      nShards = 8)
    val loaded = graft.sources.Release.loadRelease(s, path,
      StructType(d.schema.fields :+ StructField("shard", LongType)))
    require(graft.sources.Release
        .validateRelease(loaded, "doc_id", "text").isEmpty,
      "published manifest must verify against the shipped shards")
    loaded.manifest
  }

  /** Contract-gated publish gate: the same fixture shipped through
    * `writeReleaseChecked` (sink preconditions + a lang rule, all
    * passing) — manifest ≡ `release_manifest`'s oracle verbatim; the
    * BLOCKING side (violations → nothing written) is spec-pinned.
    */
  private def releaseCheckedQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"/tmp/graft_release_ck_${Integer.toHexString(dir.hashCode)}"
    val d = docs(s, dir).select("doc_id", "text", "lang")
    graft.sources.Release.writeReleaseChecked(d, "doc_id", "text", path,
      nShards = 8, extraRules = Seq(
        graft.operators.Contracts.Matches("lang", "^[a-z]{2}$")))
    val loaded = graft.sources.Release.loadRelease(s, path,
      StructType(d.schema.fields :+ StructField("shard", LongType)))
    require(graft.sources.Release
        .validateRelease(loaded, "doc_id", "text").isEmpty,
      "published manifest must verify against the shipped shards")
    loaded.manifest
  }

  /** Incremental-release gate: even half published, odd half folded in
    * via [[graft.sources.Release.appendRelease]] (touched-shards-only
    * manifest recompute); sharding is content-addressed, so the merged
    * manifest must equal the from-scratch one — oracle shared verbatim
    * with `release_manifest`. The path is wiped per run (append
    * accumulates data files across bench reps).
    */
  private def releaseAppendQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"/tmp/graft_release_app_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, path)
    val d = docs(s, dir).select("doc_id", "text", "lang")
    graft.sources.Release.writeRelease(
      d.filter(col("doc_id") % 2 === 0), "doc_id", "text", path,
      nShards = 8)
    graft.sources.Release.appendRelease(
      d.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", path)
    val loaded = graft.sources.Release.loadRelease(s, path,
      StructType(d.schema.fields :+ StructField("shard", LongType)))
    require(graft.sources.Release
        .validateRelease(loaded, "doc_id", "text").isEmpty,
      "appended release must verify against its merged manifest")
    loaded.manifest
  }

  /** Snapshot-diff gate: v1 = the even docs; v2 = the evens minus the
    * %14==0 takedowns, plus the %3==0 odds, with every %10==0 text
    * revised. The statuses are pure doc_id arithmetic for the oracle,
    * but the Spark side derives them from the PUBLISHED artifacts —
    * two real JSONL snapshot reads behind the manifest short-circuit
    * (same shard count, so agreeing shards prune at the partition
    * filter).
    */
  private def releaseDiffQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val base = s"/tmp/graft_release_diff_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, base)
    val d = docs(s, dir).select("doc_id", "text", "lang")
    val v2 = d.withColumn("text",
      when(col("doc_id") % 10 === 0, concat(col("text"), lit(" [rev2]")))
        .otherwise(col("text")))
    graft.sources.Release.writeRelease(
      d.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      s"$base/v1", nShards = 8)
    graft.sources.Release.writeRelease(
      v2.filter((col("doc_id") % 2 === 0 && col("doc_id") % 14 =!= 0) ||
        (col("doc_id") % 2 =!= 0 && col("doc_id") % 3 === 0)),
      "doc_id", "text", s"$base/v2", nShards = 8)
    graft.sources.Release.diffReleases(s, s"$base/v1", s"$base/v2",
      StructType(d.schema.fields :+ StructField("shard", LongType)),
      "doc_id", "text")
  }

  /** Release-takedown gate: the full corpus is published, every
    * seventh doc is then removed via [[graft.sources.Release.deleteDocs]]
    * (touched-shards-only rewrite under the intent/written/done
    * protocol), the SAME call replays and must no-op on its done
    * marker, the release audits clean, and the manifest hash-matches a
    * from-scratch publish of the survivors — content-addressed
    * sharding makes deletion telescope exactly.
    */
  private def releaseDeleteQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"/tmp/graft_release_del_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, path)
    val d = docs(s, dir).select("doc_id", "text", "lang")
    graft.sources.Release.writeRelease(d, "doc_id", "text", path,
      nShards = 8)
    val schema = StructType(d.schema.fields :+ StructField("shard", LongType))
    def takedown(): Unit = graft.sources.Release.deleteDocs(
      d.filter(col("doc_id") % 7 === 0).select("doc_id"),
      "doc_id", "text", path, schema, token = "takedown1")
    takedown()
    takedown() // replay: done-marker no-op (a second rewrite would
               // find the survivors' files unsealed and delete them)
    val loaded = graft.sources.Release.loadRelease(s, path, schema)
    require(graft.sources.Release
        .validateRelease(loaded, "doc_id", "text").isEmpty,
      "post-takedown release must verify against its rewritten shards")
    loaded.manifest
  }

  /** Release-compaction gate: the corpus lands as four appended
    * batches (so every shard holds 4 data files), compaction folds
    * each multi-file shard to ONE file, a replayed call no-ops on its
    * done marker, every shard must read back single-file, the audit is
    * load-bearing, and the manifest hash-matches the from-scratch
    * oracle — parity IS the claim (n_docs/n_chars are layout-free and
    * the XOR checksum order-independent by construction).
    */
  private def releaseCompactQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"/tmp/graft_release_cmp_${Integer.toHexString(dir.hashCode)}"
    val hconf = s.sparkContext.hadoopConfiguration
    Commit.tombstone(s, path)
    val d = docs(s, dir).select("doc_id", "text", "lang")
    graft.sources.Release.writeRelease(
      d.filter(col("doc_id") % 4 === 0), "doc_id", "text", path,
      nShards = 8)
    (1 to 3).foreach { r =>
      graft.sources.Release.appendRelease(
        d.filter(col("doc_id") % 4 === r), "doc_id", "text", path,
        batchId = s"b$r")
    }
    val schema = StructType(d.schema.fields :+ StructField("shard", LongType))
    def filesPerShard(): Map[String, Int] = {
      val dataDir = new org.apache.hadoop.fs.Path(s"$path/data")
      val f = dataDir.getFileSystem(hconf)
      f.listStatus(dataDir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("shard="))
        .map(st => st.getPath.getName ->
          f.listStatus(st.getPath).count(_.isFile))
        .toMap
    }
    require(filesPerShard().values.exists(_ > 1),
      "the appended release must actually hold multi-file shards")
    def compact(): Unit = graft.sources.Release.compactRelease(
      s, path, schema, "doc_id", "text", token = "c1")
    compact()
    compact() // replay: done-marker no-op
    require(filesPerShard().values.forall(_ == 1),
      "every compacted shard must hold exactly one data file")
    val loaded = graft.sources.Release.loadRelease(s, path, schema)
    require(graft.sources.Release
        .validateRelease(loaded, "doc_id", "text").isEmpty,
      "compacted release must verify against its folded shards")
    loaded.manifest
  }

  /** Streaming release-publication gate: the %3!=0 corpus is the
    * standing snapshot, the %3==0 half STREAMS through a curation gate
    * (n_chars >= 300 — the stateless survivor filter; heavier curation
    * composition is `streaming_curate`'s job) into
    * [[graft.streaming.StreamingRelease.releaseStream]], and then the
    * SAME data replays under a fresh checkpoint — batch 0 re-delivers
    * and must no-op on its done marker (double-appending would corrupt
    * every touched shard's checksum). The audit is load-bearing
    * (validateRelease must return zero rows) and the final manifest
    * hash-matches the from-scratch arithmetic oracle.
    */
  private def streamingReleaseQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"/tmp/graft_srel_${Integer.toHexString(dir.hashCode)}"
    val ck1 = s"${path}_ck1"; val ck2 = s"${path}_ck2"
    Commit.tombstone(s, path, ck1, ck2)
    val d = docs(s, dir).select("doc_id", "text", "lang")
    graft.sources.Release.writeRelease(
      d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", path,
      nShards = 8)
    def run(ckpt: String): Unit =
      graft.streaming.StreamingRelease.releaseStream(
          docStream(s, dir)
            .filter(col("doc_id") % 3 === 0 && col("n_chars") >= 300)
            .select("doc_id", "text", "lang"),
          path, "doc_id", "text")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    run(ck1)
    run(ck2) // replay on a fresh checkpoint: done-marker no-op
    val loaded = graft.sources.Release.loadRelease(s, path,
      StructType(d.schema.fields :+ StructField("shard", LongType)))
    require(graft.sources.Release
        .validateRelease(loaded, "doc_id", "text").isEmpty,
      "streamed release must audit clean after the replay")
    loaded.manifest
  }

  /** Cross-source duplication matrix gate: every fifth doc's text is
    * replaced by one of 37 shared blocks, so sources overlap by
    * construction; the oracle replays the plant, the distinct
    * (hash, source) fold, the pair counts, and all three ratios.
    */
  private def dedupOverlapMatrixQ(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(
      when(col("doc_id") % 5 === 0,
        concat(lit("shared block number "), (col("doc_id") % 37).cast("string")))
        .otherwise(col("text")).as("text"),
      col("source"))
    Dedup.sourceOverlapMatrix(planted, "text", "source")
  }

  private def dedupDropNear(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.dropNearDuplicates(d.select("doc_id", "n_chars"), "doc_id",
      Dedup.minhashLshPairs(d, "doc_id", "text"))
  }

  /** Connected components over the LSH pair graph — component = min
    * reachable id (unique fixpoint, so the iterative propagation and the
    * oracle's recursive CTE agree exactly).
    */
  private def dedupComponents(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text"))

  /** Cluster-size-report gate over the LSH pair graph; oracle folds
    * the recursive-CTE components to the size histogram.
    */
  private def dedupClusterReportQ(s: SparkSession, dir: String): DataFrame =
    Dedup.componentSizeReport(
      Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text"))

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashFingerprints(docs(s, dir), "doc_id", "text")

  private def dedupSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(docs(s, dir), "doc_id", "text")

  /** Hot-bucket cap gate (r10): two synthetic duplicate families built
    * from the documents table's first 70 ids — a 60-copy "viral" family
    * and a 10-copy small one. Identical text ⇒ identical MinHash
    * signature ⇒ every within-family pair collides on every band, so
    * the uncapped pair count is exactly Σ C(n,2) per family, and with
    * `maxBucketSize = 50` every viral-family bucket (60 rows) is
    * dropped while the small family (10 rows) pairs fully — both counts
    * are pure arithmetic over the family sizes, which is what the
    * DuckDB oracle computes.
    */
  private def dedupLshCappedQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fam = docs(s, dir).select(col("doc_id")).orderBy("doc_id").limit(70)
      .withColumn("rn",
        row_number().over(Window.orderBy("doc_id")) - 1)
      .select(col("doc_id"),
        when(col("rn") < 60,
            lit("the same viral boilerplate page text repeated across the crawl"))
          .otherwise(
            lit("a rarer duplicated snippet shared by a small family only"))
          .as("text"))
    def pairCount(cap: Int, kind: String): DataFrame =
      Dedup.minhashLshPairs(fam, "doc_id", "text", maxBucketSize = cap)
        .agg(count(lit(1)).as("pairs"))
        .select(lit(kind).as("kind"), col("pairs"))
    pairCount(50, "capped").unionAll(pairCount(0, "uncapped"))
  }

  private def dedupNgramPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", threshold = 0.3)

  /** Edit-distance join gate: 3-member key families planted from each
    * group leader's cleaned 24-char prefix (base / first-char sub /
    * one-char append → within-family distances 1, 1, 2). The oracle is
    * the SEMANTICS, not the algorithm — a brute-force length-prefiltered
    * levenshtein join over the same fixture — so the prefix-filter
    * candidate generation is exactness-gated, cross-family accidental
    * near-keys included.
    */
  private def editDistFixture(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val lead = d.select((col("doc_id")).as("__lid"),
      substring(regexp_replace(lower(col("text")), "[^a-z ]", ""), 1, 24)
        .as("__base"))
    d.filter(col("doc_id") % 5 === 0)
      .withColumn("__lid", col("doc_id") - col("doc_id") % 15)
      .select(col("doc_id"), col("__lid"))
      .join(lead, Seq("__lid"))
      .filter(length(col("__base")) >= 12)
      .withColumn("key",
        when(col("doc_id") % 15 === 0, col("__base"))
          .when(col("doc_id") % 15 === 5,
            concat(lit("x"), substring(col("__base"), 2, 24)))
          .otherwise(concat(col("__base"), lit("q"))))
      .select(col("doc_id"), col("key"))
  }

  private def dedupEditDistPairsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(editDistFixture(s, dir), "doc_id", "key",
      maxDist = 2, q = 2)

  /** Survivor composition: the edit-distance pair set feeding the
    * standard keep-lowest-id anti-join — fuzzy KEY dedup end-to-end.
    */
  private def dedupDropEditDistQ(s: SparkSession, dir: String): DataFrame = {
    val fix = editDistFixture(s, dir)
    Dedup.dropNearDuplicates(fix, "doc_id",
      Dedup.editDistancePairs(fix, "doc_id", "key", maxDist = 2, q = 2))
      .select(col("doc_id"))
  }

  private def driftByLangQ(s: SparkSession, dir: String): DataFrame = {
    val (a, b) = driftSnapshots(s, dir)
    graft.operators.Sketches.distributionDriftBy(a, b, "n_chars", "lang",
      nBins = 20, lo = 0, hi = 600)
  }

  /** Streaming drift gate: snapshot B's bin counters accumulate into
    * the epoch artifact micro-batch by micro-batch (exactly-once under
    * the batch-id cursor), then the frozen artifact scores against the
    * batch baseline — counters telescope, so the result replays
    * `drift_psi`'s oracle verbatim.
    */
  private def streamingDriftQ(s: SparkSession, dir: String): DataFrame = {
    val hex = Integer.toHexString(dir.hashCode)
    val path = s"/tmp/graft_bins_stream_$hex"
    val ckpt = s"/tmp/graft_bins_ckpt_$hex"
    Commit.tombstone(s, path, ckpt)
    val bStream = docStream(s, dir).filter(col("doc_id") % 3 =!= 0)
      .withColumn("n_chars",
        when(col("doc_id") % 7 === 0, col("n_chars") + 80)
          .otherwise(col("n_chars")))
    graft.operators.Sketches.binsIngestStream(
        bStream, "n_chars", path, nBins = 20, lo = 0, hi = 600)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    graft.operators.Sketches.driftVsBins(docs(s, dir), "n_chars", path)
  }

  /** Banding-quality eval gate on the %10 sample: the oracle replays
    * BOTH sides — brute-force exact-Jaccard truth and the full
    * minhash/band/bucket candidate arithmetic — then the hit counts.
    */
  private def dedupLshEvalQ(s: SparkSession, dir: String): DataFrame =
    Dedup.lshEval(docs(s, dir).filter(col("doc_id") % 10 === 0),
      "doc_id", "text", threshold = 0.3)

  /** Drift fixture: snapshot B drops every 3rd doc and shifts every
    * 7th doc's length by +80 — a real mixture-and-scale drift for the
    * PSI/KS monitor to flag.
    */
  private def driftSnapshots(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val a = docs(s, dir)
    val b = docs(s, dir).filter(col("doc_id") % 3 =!= 0)
      .withColumn("n_chars",
        when(col("doc_id") % 7 === 0, col("n_chars") + 80)
          .otherwise(col("n_chars")))
    (a, b)
  }

  private def driftBinsQ(s: SparkSession, dir: String): DataFrame = {
    val (a, b) = driftSnapshots(s, dir)
    graft.operators.Sketches.driftBins(a, b, "n_chars",
      nBins = 20, lo = 0, hi = 600)
  }

  private def driftPsiQ(s: SparkSession, dir: String): DataFrame = {
    val (a, b) = driftSnapshots(s, dir)
    graft.operators.Sketches.distributionDrift(a, b, "n_chars",
      nBins = 20, lo = 0, hi = 600)
  }

  /** Contract fixture: documents with one planted violation class per
    * rule — null text, out-of-range n_chars, malformed lang, broken
    * n_chars↔text consistency, duplicated ids.
    */
  private def contractFixture(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("text",
        when(col("doc_id") % 97 === 0, lit(null).cast("string"))
          .otherwise(col("text")))
      .withColumn("n_chars",
        when(col("doc_id") % 89 === 0, lit(-1L)).otherwise(col("n_chars")))
      .withColumn("lang",
        when(col("doc_id") % 83 === 0, lit("Z9")).otherwise(col("lang")))

  /** Data-contract report gate: every rule class of
    * [[graft.operators.Contracts]] over the planted fixture; the
    * oracle recomputes each counter in plain SQL, declaration order
    * and pass flags included.
    */
  private def contractChecksQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Contracts._
    val planted = contractFixture(s, dir)
    val fix = planted.unionByName(planted.filter(col("doc_id") % 101 === 0))
    graft.operators.Contracts.check(fix, Seq(
      NotNull("text"),
      InRange("n_chars", 1, 1000000),
      Matches("lang", "^[a-z]{2}$"),
      Predicate("n_chars_consistent",
        col("n_chars") === length(col("text"))),
      Unique(Seq("doc_id"))))
  }

  /** Referential-integrity gate: orders→customer with planted orphan
    * keys (negated custkey on every 67th order).
    */
  private def contractFkQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Contracts._
    val orphaned = t(s, dir, "orders")
      .withColumn("o_custkey",
        when(col("o_orderkey") % 67 === 0, -col("o_custkey"))
          .otherwise(col("o_custkey")))
    graft.operators.Contracts.check(orphaned, Seq(
      ForeignKeyIn("o_custkey", t(s, dir, "customer"), "c_custkey"),
      NotNull("o_custkey")))
  }

  /** Per-source contract gate: the same planted fixture, violations
    * attributed to the crawl feed that produced them.
    */
  private def contractBySourceQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Contracts._
    graft.operators.Contracts.checkRowRulesBy(
      contractFixture(s, dir), "source", Seq(
        NotNull("text"),
        InRange("n_chars", 1, 1000000),
        Matches("lang", "^[a-z]{2}$")))
  }

  /** Streaming twin of the row-rule subset: `checkRowRules` is a plain
    * aggregation (|rules| running counters, no other state), so it runs
    * on the ingest stream under complete mode and the final table
    * equals the batch totals — oracle shared with [[contractChecksQ]]'s
    * row rules over the un-duplicated fixture.
    */
  private def streamingContractQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Contracts._
    val planted = docStream(s, dir)
      .withColumn("text",
        when(col("doc_id") % 97 === 0, lit(null).cast("string"))
          .otherwise(col("text")))
      .withColumn("n_chars",
        when(col("doc_id") % 89 === 0, lit(-1L)).otherwise(col("n_chars")))
      .withColumn("lang",
        when(col("doc_id") % 83 === 0, lit("Z9")).otherwise(col("lang")))
    runStreamToTable(s,
      graft.operators.Contracts.checkRowRules(planted, Seq(
        NotNull("text"),
        InRange("n_chars", 1, 1000000),
        Matches("lang", "^[a-z]{2}$"),
        Predicate("n_chars_consistent",
          col("n_chars") === length(col("text"))))),
      "stream_contract", mode = "complete")
  }

  private def dedupCosinePairs(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(embs(s, dir), "vec_id", "embedding", "label",
      threshold = 0.4)

  /** documents with INJECTED line structure: every 6th space becomes a
    * newline. The testdata text is single-line, so line-level operators
    * (C4 line dedup, Gopher duplicate-line stats) would be vacuously
    * green without it — same pattern as the r6 accent/CJK injection for
    * normalize/char-shingle gates. The regex consumes six
    * space-separated words plus the following space; both engines scan
    * leftmost non-overlapping, so the line splits agree.
    */
  private def linedDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      regexp_replace(col("text"), "((?:\\S+ ){5}\\S+) ", "$1\n").as("text"))

  private def dedupLinesQ(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupLines(linedDocs(s, dir), "doc_id", "text")

  /** Substring-dedup gate: a 15-word license-style boilerplate block is
    * planted ahead of every fifth document, so cross-document repeated
    * spans exist at any SF (natural exact-dup documents exercise the
    * full-removal path; the plant exercises partial removal).
    */
  private def dedupSubstringQ(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupSubstrings(
      docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit(SubstringBoilerplate + " "), col("text")))
          .otherwise(col("text")).as("text")),
      "doc_id", "text", spanWords = 12)

  private val SubstringBoilerplate =
    "this document is provided as is without warranty of any kind either expressed or implied"

  /** BPE-token-level substring-dedup gate: a 72-char NO-WHITESPACE
    * license-style block is planted ahead of every fifth document — the
    * span the word form provably cannot see (with no interior
    * whitespace the plant is part of ONE "word", so no 12-word gram
    * ever lies inside it; the CJK variant of the same blindness is
    * spec-pinned in OperatorsSpec). The oracle replays the fixture
    * tokenization at string level exactly as `token_ids_bpe` does
    * (corpus verified pure ASCII at all SFs), re-derives the gram keys
    * as `md5(array_to_string(ids[i:i+39], ','))` —
    * [[graft.functions.IntGramHash128Expr]]'s documented re-derivation
    * — replays first-occurrence removal with the same (doc_id, pos)
    * order, and rebuilds text from the surviving tokens' byte strings
    * (257→'abc', 256→'ab', else chr(id)).
    */
  private def dedupSubstringBpeQ(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupSubstringsBpe(
      docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit(BpeSubstringPlant), col("text")))
          .otherwise(col("text")).as("text")),
      "doc_id", "text", spanTokens = 40)

  /** 72 chars, no whitespace, no 'ab' (so its fixture token count is
    * exactly its char count, 72 >= spanTokens=40). */
  private val BpeSubstringPlant =
    "licensetermsapplytoallcopiesofthisdocumentnowarrantyisexpressedorimplied"

  /** BPE-training gate: learn 8 merges from the [a-z ]-cleaned corpus
    * (restricting the alphabet keeps the oracle's bracket-encoded
    * symbol strings unambiguous), emit (rank, left, right) in the
    * GPT-2 byte-unicode alphabet. The oracle replays the SAME 8
    * deterministic rounds arithmetically — unrolled materialized CTEs:
    * pair counts from the bracket encoding, argmax with the (count
    * DESC, left, right) tie order, merge-all-occurrences via left-to-
    * right non-overlapping `replace`.
    */
  private def bpeTrainQ(s: SparkSession, dir: String): DataFrame = {
    val corpus = docs(s, dir).select(
      trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z ]", " "),
        " +", " ")).as("text"))
      .filter(col("text") =!= "")
    val merges = TextAnalysis.bpeTrainMerges(corpus, "text", numMerges = 8)
    val rows = merges.zipWithIndex.map { case ((l, r), i) =>
      (i + 1, graft.functions.Bpe.encodeToken(l),
        graft.functions.Bpe.encodeToken(r)) }
    import s.implicits._
    rows.toDF("rank", "left", "right")
  }

  /** Token-ids gate: the full id sequence under the fixture vocabulary,
    * comma-joined for a robust cross-engine compare. The oracle derives
    * the ids at string level — every literal `abc` becomes token 257 and
    * every remaining literal `ab` becomes 256 (equivalent to the walk
    * for this vocabulary: `ab` is the first merge and cannot
    * self-overlap, so the rank-1 pass merges every literal occurrence,
    * and every `ab` followed by `c` then merges at rank 2), remaining
    * chars are byte ids (corpus verified pure ASCII at all SFs).
    */
  private def tokenIdsBpeQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenIdsBpe(docs(s, dir), "doc_id", "text")
      .select(col("doc_id"),
        concat_ws(",", transform(col("token_ids"), x => x.cast("string")))
          .as("ids_csv"),
        size(col("token_ids")).cast("long").as("n_tokens"))

  /** Generated oracle for [[bpeTrainQ]]: n unrolled training rounds.
    * MATERIALIZED is load-bearing — inlined CTEs would replicate the
    * scan ~5× per round (exponential in n).
    */
  private def bpeTrainOracle(n: Int): String = {
    val steps = (1 to n).map { i =>
      val prev = s"p${i - 1}"
      s"""pr$i AS MATERIALIZED (SELECT (pr).l AS l, (pr).r AS r, CAST(sum(cnt) AS BIGINT) AS c FROM (
             SELECT cnt, unnest(list_transform(range(1, len(syms)),
               j -> {'l': syms[j], 'r': syms[j+1]})) AS pr
             FROM (SELECT string_split(enc[2:len(enc)-1], '][') AS syms, cnt FROM $prev)
           ) GROUP BY 1, 2),
         b$i AS MATERIALIZED (SELECT l, r FROM pr$i WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1),
         p$i AS MATERIALIZED (SELECT CASE WHEN (SELECT count(*) FROM b$i) = 0 THEN enc
             ELSE replace(enc,
               '[' || (SELECT l FROM b$i) || '][' || (SELECT r FROM b$i) || ']',
               '[' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || ']') END AS enc,
             cnt FROM $prev)"""
    }.mkString(",\n         ")
    val unions = (1 to n).map { i =>
      s"""SELECT $i AS rank, replace(l, ' ', chr(288)) AS "left", replace(r, ' ', chr(288)) AS "right" FROM b$i"""
    }.mkString("\n           UNION ALL ")
    s"""WITH t AS (SELECT trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')) AS txt
             FROM documents),
         w AS (SELECT string_split(txt, ' ') AS ws FROM t WHERE txt <> ''),
         pc AS MATERIALIZED (SELECT piece, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT CASE WHEN i = 1 THEN ws[1] ELSE ' ' || ws[i] END AS piece
             FROM (SELECT ws, unnest(range(1, len(ws) + 1)) AS i FROM w)
           ) GROUP BY 1),
         p0 AS MATERIALIZED (SELECT '[' || array_to_string(string_split(piece, ''), '][') || ']' AS enc, cnt FROM pc),
         $steps
         SELECT CAST(rank AS INTEGER) AS rank, "left", "right" FROM ($unions) ORDER BY rank"""
  }

  /** Boilerplate stripping gate: a digit-only line and a too-short line
    * are injected ahead of the lined text, so both drop rules fire.
    */
  private def stripBoilerplateQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.stripBoilerplateLines(
      linedDocs(s, dir).select(col("doc_id"),
        concat(lit("12345 67890 2024\nok\n"), col("text")).as("text")),
      "doc_id", "text")

  private def dedupKeepBestQ(s: SparkSession, dir: String): DataFrame =
    Dedup.dropDuplicatesKeepBest(docs(s, dir), "doc_id", "text",
      col("n_chars"))

  /** SemDeDup gate: deterministic id-selected centroids (same floats in
    * both engines — averaged k-means centroids would put a cross-engine
    * summation-order epsilon under every cosine threshold test) and a
    * low tau so the sf0.01 embedding corpus actually drops vectors.
    */
  private def semanticDedupQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    Dedup.semanticDedup(e, "vec_id", "embedding", centroids, tau = 0.3)
  }

  /** Repetition gate: lined docs plus each document's own first line
    * appended, so the duplicate-line fields are exercised on every row
    * (random testdata text almost never repeats a 6-word line by
    * itself).
    */
  private def repetitionScoresQ(s: SparkSession, dir: String): DataFrame = {
    val rep = linedDocs(s, dir).select(col("doc_id"),
      concat_ws("\n", col("text"),
        element_at(split(col("text"), "\n"), 1)).as("text"))
    TextAnalysis.repetitionScores(rep, "doc_id", "text")
  }

  private def winnowQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowFingerprints(docs(s, dir), "doc_id", "text",
      k = 7, w = 4)

  /** Overlap-pairs gate: random testdata text shares no real passages,
    * so every 97th doc gets a fixed tail appended — a shared substring
    * far above k + w - 1 = 10 chars, guaranteeing those docs pair up
    * (plus whatever chance 7-gram collisions both engines equally see).
    */
  private val winnowPassage =
    "the licensed boilerplate passage shared across many crawls"

  private def winnowPairsQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 97 === 0,
        concat(col("text"), lit(" " + winnowPassage)))
        .otherwise(col("text")).as("text"))
    // cap 20: the injected passage's doc frequency at sf0.01 is 6 (500
    // docs / 97), comfortably under; chance-shared 7-grams above 20 docs
    // are boilerplate-grade and cost df^2 join work each
    TextAnalysis.winnowOverlapPairs(d, "doc_id", "text",
      k = 7, w = 4, minShared = 2, maxDocFreq = 20)
  }

  /** As-of join: each order paired with the same customer's most recent
    * STRICTLY-earlier order day's max total (right side pre-aggregated to
    * one row per (custkey, date) — required for deterministic ties).
    * Oracle: DuckDB's native ASOF LEFT JOIN.
    */
  private def asofJoinQ(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val left = o.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val right = o.groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_totalprice")).as("prev_total"))
    graft.operators.AsofJoin.asofJoin(left, right,
      keys = Seq("o_custkey"), leftTs = "o_orderdate",
      rightTs = "o_orderdate", inclusive = false)
  }

  /** Range join: orders matched into overlapping price bands (bands
    * derived from every 997th order's total). Bin width = band width, so
    * each interval covers at most 2 bins.
    */
  private def rangeJoinQ(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val bands = o.filter(col("o_orderkey") % 997 === 0)
      .select(col("o_orderkey").as("band_id"),
        col("o_totalprice").as("lo"),
        (col("o_totalprice") + 20000).as("hi"))
    graft.operators.RangeJoin.rangeJoin(
      o.select("o_orderkey", "o_totalprice"), bands,
      "o_totalprice", "lo", "hi", binWidth = 20000)
      .select("band_id", "o_orderkey", "o_totalprice")
  }

  /** Int8 embedding quantization: codes serialized for the comparator;
    * the scale is a pure double both engines derive identically.
    */
  private def quantizeQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.quantizeInt8(col("embedding")).as("__q"))
      .select(col("vec_id"),
        col("__q.scale").as("scale"),
        array_join(transform(col("__q.q"), x => x.cast("string")), ",")
          .as("q_csv"))

  /** PII scrub over text with synthetic PII injected from doc_id (the
    * corpus itself is clean), so the oracle actually verifies masking.
    */
  private def piiScrubQ(s: SparkSession, dir: String): DataFrame = {
    val dirty = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or "),
      lit("555-12"), (col("doc_id") % 10).cast("string"),
      lit("-4567 from 10.0."), (col("doc_id") % 256).cast("string"),
      lit(".1"))
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.scrubPii(dirty).as("clean_text"))
  }

  /** URL canonicalization over synthetic tracking-link variants built
    * from doc_id (the corpus has no URL column): uppercase scheme/host,
    * www, default port, utm/fbclid params, and a fragment all normalize
    * away; the id param survives re-anchored to `?`.
    */
  /** Synthetic crawl URL for the domain gates: 40 hosts derived from
    * the doc id (the [[urlNormalizeQ]] synthesis pattern).
    */
  private def syntheticUrl: org.apache.spark.sql.Column =
    concat(lit("https://www.Site"), (col("doc_id") % 40).cast("string"),
      lit(".com/p/"), col("doc_id").cast("string"))

  private def domainReportQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pipeline.domainReport(
      docs(s, dir).withColumn("url", syntheticUrl), "url", "text")

  /** Domain-gated curation: blocklist drops two hosts, the per-host cap
    * keeps the 8 smallest-id-hash docs of each surviving host (both
    * BEFORE the length gate — the RefinedWeb stage order), then the
    * standard length gate → exact dedup → split chain runs. The oracle
    * replays every stage.
    */
  private def curateDomainsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pipeline.curate(
      docs(s, dir).withColumn("url", syntheticUrl), "doc_id", "text",
      urlCol = "url", blockedHosts = Seq("site3.com", "site17.com"),
      maxDocsPerHost = 8, minChars = 250, maxChars = 100000)
      .select(col("doc_id"), col("split"))

  private def urlNormalizeQ(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      lit("HTTPS://WWW.Example"), (col("doc_id") % 50).cast("string"),
      lit(".COM:443/Path"), (col("doc_id") % 7).cast("string"),
      lit("/?utm_source=s"), (col("doc_id") % 3).cast("string"),
      lit("&id="), col("doc_id").cast("string"),
      lit("&fbclid=abc#sec"), (col("doc_id") % 5).cast("string"))
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.normalizeUrl(raw).as("url_norm"),
      TextAnalysis.urlHost(raw).as("host"))
  }

  private def chunkTokensQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkByTokens(t(s, dir, "documents"), "doc_id", "text",
      chunkTokens = 40, overlap = 8)

  private def dedupLshVerifiedQ(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairsVerified(docs(s, dir), "doc_id", "text",
      threshold = 0.3)

  /** Decontamination: the eval probe is the doc_id % 7 == 0 slice; every
    * corpus doc sharing a MinHash band bucket with a probe doc drops.
    */
  private def decontaminateQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.decontaminate(docs, docs.filter(col("doc_id") % 7 === 0),
      "doc_id", "text")
      .select("doc_id", "lang")
  }

  /** EXACT-n-gram decontamination gate (the GPT-3 13-gram recipe): the
    * probe is every 13th doc with a fixed 13-word eval snippet
    * appended; the same snippet is planted into every 9th train doc.
    * Contamination therefore arises BOTH ways the recipe must catch —
    * full-text overlap (the probe docs' own ~50-word bodies) and a
    * SINGLE shared 13-gram (the planted snippet) — while everything
    * else survives. The oracle replays normalization, gram hashing,
    * and the distinct-key semi join.
    */
  private def decontaminateExactQ(s: SparkSession, dir: String): DataFrame = {
    val (train, probe) = snippetFixture(s, dir)
    Dedup.decontaminateExact(train, probe, "doc_id", "text", n = 13)
      .select(col("doc_id"))
  }

  /** Bloom-prefiltered exact decontamination — the huge-probe path
    * (probe gram set too large to broadcast): the filter is built at a
    * deliberately modest 2^16 bits so sf0.1's ~600k probe grams drive
    * a REAL false-positive rate through the confirm join, proving fp
    * costs shuffle rows, never documents — the oracle is
    * `decontaminate_exact`'s, shared verbatim, because the result is
    * exact-semantics for ANY filter size.
    */
  private def decontaminateBloomQ(s: SparkSession, dir: String): DataFrame = {
    val (train, probe) = snippetFixture(s, dir)
    Dedup.decontaminateExactBloom(train, probe, "doc_id", "text", n = 13,
        mBits = 1 << 16, bloomK = 3)
      .select(col("doc_id"))
  }

  /** Persisted-decon-index gate: the probe (every 13th doc + snippet)
    * freezes into a [[graft.sources.DeconIndex]] artifact — gram keys
    * plus a deliberately UNDERSIZED 2^16-bit Bloom filter, so sf0.1
    * drives a real false-positive residue through the exact confirm —
    * and the planted train corpus decontaminates against the loaded
    * artifact. Exact semantics for any filter size: the oracle is
    * `decontaminate_exact`'s, shared verbatim.
    */
  private def deconIndexQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_deconidx_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, path)
    val (train, probe) = snippetFixture(s, dir)
    graft.sources.DeconIndex.build(probe, "text", path, n = 13,
      mBits = 1 << 16, k = 3)
    graft.sources.DeconIndex.decontaminateBatch(train, "doc_id", "text",
        path)
      .select(col("doc_id"))
  }

  /** Incremental-probe gate: the probe arrives as TWO batches (even /
    * odd probe doc ids) — build on the first, [[graft.sources
    * .DeconIndex.appendProbe]] the second, replay the append (must
    * converge: no duplicate gram keys, identical filter) — and the
    * decon against the grown artifact must equal the from-scratch run:
    * gram-set union telescopes exactly, oracle shared verbatim.
    */
  private def deconIndexAppendQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_deconidx_app_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, path)
    val (train, _) = snippetFixture(s, dir)
    def probeHalf(even: Boolean) = docs(s, dir)
      .filter(col("doc_id") % 13 === 0 &&
        (if (even) col("doc_id") % 2 === 0 else col("doc_id") % 2 =!= 0))
      .select(concat(col("text"), lit(" " + SnippetPlant)).as("text"))
    graft.sources.DeconIndex.build(probeHalf(even = true), "text", path,
      n = 13, mBits = 1 << 16, k = 3)
    graft.sources.DeconIndex.appendProbe(probeHalf(even = false), "text",
      path)
    graft.sources.DeconIndex.appendProbe(probeHalf(even = false), "text",
      path) // replayed append: convergent by construction
    graft.sources.DeconIndex.decontaminateBatch(train, "doc_id", "text",
        path)
      .select(col("doc_id"))
  }

  /** Streaming decon-at-ingest gate: the snippet-planted corpus
    * STREAMS through [[graft.streaming.StreamingDedup
    * .indexedDeconStream]] against the frozen index, then the same
    * data replays under a fresh checkpoint — the frozen index makes
    * every batch's survivor frame deterministic, so the per-batch
    * overwrite must converge without markers. Oracle shared verbatim
    * with `decontaminate_exact`.
    */
  private def streamingDeconIndexQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_deconidx_str_${Integer.toHexString(dir.hashCode)}"
    val out = s"${path}_out"
    val ck1 = s"${path}_ck1"; val ck2 = s"${path}_ck2"
    Commit.tombstone(s, path, out, ck1, ck2)
    val (_, probe) = snippetFixture(s, dir)
    graft.sources.DeconIndex.build(probe, "text", path, n = 13,
      mBits = 1 << 16, k = 3)
    val planted = docStream(s, dir).select(col("doc_id"),
      when(col("doc_id") % 9 === 0,
        concat(col("text"), lit(" " + SnippetPlant)))
        .otherwise(col("text")).as("text"))
    def run(ckpt: String): Unit =
      graft.streaming.StreamingDedup.indexedDeconStream(
          planted, path, out, "doc_id", "text")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    run(ck1)
    run(ck2) // replay: deterministic recompute, idempotent overwrite
    s.read.parquet(out).select(col("doc_id"))
  }

  /** BPE-token surgical scrub gate: the 72-char no-whitespace license
    * block ([[BpeSubstringPlant]] — the span the word form provably
    * cannot see) prepended to every 9th train doc AND to every 13th
    * doc's probe copy. The scrub must cut the block's in-block token
    * grams out of planted docs and fully empty %13 train docs (their
    * whole token stream appears in the probe); the oracle replays
    * fixture tokenization, token-40-gram keys, probe membership, span
    * cover, and the byte-exact token rebuild.
    */
  private def decontaminateScrubBpeQ(s: SparkSession, dir: String): DataFrame = {
    val train = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 9 === 0,
        concat(lit(BpeSubstringPlant), col("text")))
        .otherwise(col("text")).as("text"))
    val probe = docs(s, dir).filter(col("doc_id") % 13 === 0)
      .select(concat(lit(BpeSubstringPlant), col("text")).as("text"))
    Dedup.scrubContaminatedSpansBpe(train, probe, "doc_id", "text",
      spanTokens = 40)
  }

  /** Shared contamination plant for the exact-gram decon family
    * ([[decontaminateExactQ]], [[decontaminateScrubQ]],
    * [[curateScrubQ]]): a fixed 13-word eval snippet appended to every
    * 9th train doc and to every 13th doc's probe copy — contamination
    * arises both as full-text overlap and as a single shared 13-gram.
    */
  private val SnippetPlant = "held out evaluation question about the" +
    " seventeen silver llamas crossing frozen rivers quietly"

  /** Contamination audit gate: per probe doc, how much of it the
    * (snippet-planted) corpus contains — the oracle replays positional
    * probe grams, the corpus gram set, and the per-doc rollup.
    */
  private def contaminationReportQ(s: SparkSession, dir: String): DataFrame = {
    val (train, _) = snippetFixture(s, dir)
    val probe = docs(s, dir).filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"),
        concat(col("text"), lit(" " + SnippetPlant)).as("text"))
    Dedup.contaminationReport(train, probe, "doc_id", "text", n = 13)
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        round(col("contamination"), 6).as("contamination"))
  }

  /** Tokenizer fertility per language under the fixture BPE vocab —
    * the oracle replays the replace()-arithmetic token count and the
    * whitespace word count per group.
    */
  private def tokenFertilityQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenFertility(docs(s, dir), "text", "lang")
      .select(col("lang"), col("n_tokens"), col("n_words"),
        round(col("fertility"), 6).as("fertility"))

  private def snippetFixture(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val snip = SnippetPlant
    val train = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 9 === 0, concat(col("text"), lit(" " + snip)))
        .otherwise(col("text")).as("text"))
    val probe = docs(s, dir).filter(col("doc_id") % 13 === 0)
      .select(concat(col("text"), lit(" " + snip)).as("text"))
    (train, probe)
  }

  /** Domain mixing to a 10k-token budget: src0/src1 get explicit
    * weights, the other 18 sources split the remaining 0.2 evenly; the
    * two weighted domains exercise fractional sampling, the cap path is
    * spec-covered (at this SF no domain under-fills its share).
    */
  private def mixBudgetQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.mixToTokenBudget(
      docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
      "doc_id", "source", "n_chars",
      weights = Map("src0" -> 0.5, "src1" -> 0.3),
      budget = 10000L,
      defaultWeight = 0.2 / 18)

  /** SURGICAL decontamination gate ([[decontaminateExactQ]]'s plant,
    * scrub instead of drop): %9 train docs carry the appended snippet,
    * the probe is every 13th doc with the snippet appended. Scrubbing
    * must remove the snippet span from planted docs (plus boundary
    * grams), empty out %13 docs almost entirely (their full bodies are
    * in the probe), and leave every other doc's WORD SEQUENCE unchanged
    * (the rebuild is space-joined tokens — whitespace normalizes, words
    * don't; see the operator's rebuild-contract note). The
    * oracle replays tokenization, lowercased 13-gram keys, probe
    * membership, positional span cover, and the original-casing
    * rebuild.
    */
  private def decontaminateScrubQ(s: SparkSession, dir: String): DataFrame = {
    val (train, probe) = snippetFixture(s, dir)
    Dedup.scrubContaminatedSpans(train, probe, "doc_id", "text", n = 13)
  }

  /** Curation with the SURGICAL decontamination stage on
    * ([[decontaminateScrubQ]]'s plant): length gate → span scrub →
    * empty-drop → exact-normalized dedup over the SCRUBBED text →
    * split assignment. The scrub runs before the dedup (the stage's
    * point: docs differing only in a quoted eval span dedup
    * correctly), which the oracle replays end-to-end.
    */
  private def curateScrubQ(s: SparkSession, dir: String): DataFrame = {
    val (train, probe) = snippetFixture(s, dir)
    graft.operators.Pipeline.curate(train, "doc_id", "text",
      probe = Some(probe), minChars = 250, maxChars = 100000,
      scrubProbeNgrams = 13)
      .select(col("doc_id"), col("split"))
  }

  /** Funnel report over [[curateDeconExactQ]]'s configuration: the
    * per-stage survivor counts (input → length gate → exact dedup →
    * exact-gram decontamination → output). The oracle recomputes each
    * stage's cardinality from the same CTE chain the composed gate
    * uses.
    */
  private def curateReportQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pipeline.curateReport { buf =>
      graft.operators.Pipeline.curate(docs(s, dir), "doc_id", "text",
        probe = Some(docs(s, dir).filter(col("doc_id") % 13 === 0)),
        minChars = 250, maxChars = 100000,
        decontaminateExactNgrams = 13,
        stageFrames = Some(buf))
    }

  /** Temperature mixing at alpha = 0.5 over the 20 sources: shares
    * follow sqrt(tokens) — small sources up-weighted vs natural
    * proportions — and the oracle recomputes the pow-share and
    * keep-fraction arithmetic from the same per-source sums.
    */
  private def mixTemperatureQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.mixByTemperature(
      docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
      "doc_id", "source", "n_chars", budget = 20000L, alpha = 0.5)

  /** Fractional-epoch upsampling: src0 at 2.3 epochs (2 copies + a
    * deterministic 30% third), src1 at 0.5 (downsampled in the same
    * units), src2 at 0 (dropped), everything else 1 epoch. The oracle
    * replays the per-domain floor/threshold literals and the salted
    * hash test, fanning out with range().
    */
  private def upsampleEpochsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.upsampleToEpochs(
      docs(s, dir).select(col("doc_id"), col("source")),
      "doc_id", "source",
      epochs = Map("src0" -> 2.3, "src1" -> 0.5, "src2" -> 0.0),
      defaultEpochs = 1.0)

  /** Epoch-shuffle layout over the [[packSequencesQ]] pack set: each
    * distinct (bucket, pack) gets a seeded shard and a dense
    * within-shard rank; the oracle replays the pack-assignment window
    * arithmetic, the seeded hash, and the partitioned row_number.
    */
  private def packShuffleQ(s: SparkSession, dir: String): DataFrame = {
    val packed = graft.operators.Sampling.packSequences(
      docs(s, dir).select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", seqTokens = 2048L, nBuckets = 8)
    graft.operators.Sampling.shufflePacks(
      packed.select(col("pack_bucket"), col("pack_id")).distinct(),
      seed = 7L, nShards = 8)
  }

  /** The synthetic page wrap shared by [[htmlExtractQ]] and
    * [[curateHtmlQ]]: head with style/script blocks (contents must
    * vanish), a comment, an entity-bearing h1, the body re-paragraphed
    * at sentence breaks, a br and trailing entities.
    */
  private def htmlPage: Column = concat(
    lit("<html><head><title>Doc</title>" +
      "<style type=\"text/css\">p { color: red; }</style>" +
      "<script>if (1 < 2) { document.write(\"x\"); }</script></head>" +
      "<body><!-- nav --><h1>Doc &amp; entry "),
    col("doc_id").cast("string"),
    lit("</h1><p>"),
    replace(col("text"), lit(". "), lit(".</p>\n<p>")),
    lit("</p><br>&quot;fin&quot; &lt;eof&gt;</body></html>"))

  /** HTML extraction gate: [[htmlPage]]-wrapped documents in, prose
    * with line structure at the block boundaries out. The oracle
    * replays the construction and the identical regexp chain in DuckDB
    * (the patterns are RE2-safe by design).
    */
  private def htmlExtractQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.extractHtmlText(htmlPage).as("text_clean"))

  /** Ingest-from-crawl curation: the synthetic pages flow through
    * `curate(htmlInput = true)` — extraction FIRST, then the length
    * gate over the extracted prose, exact-normalized dedup over it,
    * split assignment. The oracle replays the full chain.
    */
  private def curateHtmlQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pipeline.curate(
      docs(s, dir).select(col("doc_id"), htmlPage.as("text")),
      "doc_id", "text", htmlInput = true,
      minChars = 250, maxChars = 100000)
      .select(col("doc_id"), col("split"))

  /** WET roundtrip: documents become conversion records (synthetic
    * target URIs), written as WET-style files and read back — emitted
    * from the READ side, so header construction, record splitting,
    * header extraction, and payload recovery are all load-bearing for
    * the hash match. The oracle states the invariant directly from
    * documents (uri, byte Content-Length, exact text).
    */
  private def wetRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_wet_${Integer.toHexString(dir.hashCode)}"
    writeWetFixture(s, dir, base)
    graft.sources.Wet.readWet(s, base)
      .select(col("uri"), col("content_length"), col("text"))
  }

  /** Shared WET fixture for [[wetRoundtripQ]] and [[streamingWetQ]]:
    * documents as conversion records under synthetic target URIs.
    */
  private def writeWetFixture(
      s: SparkSession, dir: String, base: String): Unit =
    graft.sources.Wet.writeWet(
      docs(s, dir).select(
        concat(lit("http://example.org/doc/"),
          col("doc_id").cast("string")).as("uri"),
        col("text")),
      "uri", "text", base, numFiles = 8)

  /** 27 ASCII chars; the truncated-record plant declares its
    * Content-Length 20 bytes short, cutting INSIDE this marker so the
    * byte arithmetic never splits a multi-byte code point of the
    * document text.
    */
  private val QuarantineMarker = " #QUARANTINE-TAIL-ABCDEFGHI"

  /** Malformed-WET ingest → quarantine → curate, end to end: every
    * 7th doc's record declares a SHORT Content-Length (the orphan
    * span between its payload end and the next record emits as a
    * null-length quarantine row), every 7th+5 omits Content-Length,
    * every 7th+6 declares a non-numeric one (both fall to the resync
    * branch as null-length spans). The documented validation
    * predicate (`content_length = octet_length(text)`, non-null)
    * quarantines all three shapes; the survivors — including the
    * truncated-but-self-consistent m=4 records, whose text keeps the
    * first 7 marker chars — flow through [[graft.operators.Pipeline
    * .curate]] (length gate, exact-normalized dedup, split
    * assignment). The oracle replays corruption, quarantine rule, and
    * the curate chain from `documents`.
    */
  private def wetCurateQuarantineQ(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_wetq_${Integer.toHexString(dir.hashCode)}"
    val m = col("doc_id") % 7
    val textp = when(m === 4, concat(col("text"), lit(QuarantineMarker)))
      .otherwise(col("text"))
    val cl = when(m === 4, octet_length(textp) - 20)
      .otherwise(octet_length(textp))
    val clField = when(m === 5, lit(""))
      .when(m === 6, lit("\r\nContent-Length: 12x34"))
      .otherwise(concat(lit("\r\nContent-Length: "), cl.cast("string")))
    val rec = concat(
      lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "),
      lit("http://example.org/doc/"), col("doc_id").cast("string"),
      clField, lit("\r\n\r\n"), textp, lit("\r\n\r\n"))
    docs(s, dir).select(col("doc_id").as("__u"), rec.as("value"))
      .repartition(8, col("__u")).select(col("value"))
      .write.mode("overwrite").text(base)
    val recs = graft.sources.Wet.readWet(s, base)
      .filter(col("content_length").isNotNull &&
        col("content_length") === octet_length(col("text")))
      .select(regexp_extract(col("uri"), "/doc/(\\d+)$", 1)
        .cast("long").as("doc_id"), col("text"))
    graft.operators.Pipeline.curate(recs, "doc_id", "text",
      minChars = 250, maxChars = 100000)
      .select(col("doc_id"), col("split"))
  }

  /** Composed curation: length gate -> exact-normalized dedup ->
    * decontaminate (probe = %13 docs) -> train/val/test assignment.
    * The near-dup and line-dedup stages are off here (their survivor
    * rules are gated separately); the full path runs in the
    * OperatorsSpec case "curate pipeline, full path".
    */
  private def curatePipelineQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pipeline.curate(
      docs(s, dir), "doc_id", "text",
      probe = Some(docs(s, dir).filter(col("doc_id") % 13 === 0)),
      minChars = 250, maxChars = 100000)
      .select(col("doc_id"), col("split"))

  /** [[curatePipelineQ]] with the SUBSTRING stage ON (word form,
    * span=12, the `dedup_substring` plant): every fifth doc carries the
    * license block, so the stage genuinely rewrites — non-first planted
    * docs lose the block before exact dedup and split assignment, and
    * natural exact-dup docs are fully emptied BY the substring stage
    * and dropped there (substring removal subsumes exact dedup for
    * ≥span docs). Probe/near-dup off — their compositions are gated
    * separately; this gate isolates rewrite → exact dedup → splits.
    * The oracle replays the planted rewrite (the dedup_substring
    * arithmetic), the empty-drop, normalized-hash dedup over the
    * REWRITTEN text, and the split hash.
    */
  private def curateSubstringQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pipeline.curate(
      docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit(SubstringBoilerplate + " "), col("text")))
          .otherwise(col("text")).as("text")),
      "doc_id", "text",
      minChars = 250, maxChars = 100000,
      substringDedup = "word", substringSpan = 12)
      .select(col("doc_id"), col("split"))

  /** [[curatePipelineQ]] with the decontamination stage switched to the
    * EXACT 13-gram recipe: survivors of the length gate + exact dedup
    * are scrubbed against the %13 probe slice on verbatim 13-gram
    * overlap (probe docs in-corpus drop via their own full bodies).
    */
  private def curateDeconExactQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pipeline.curate(
      docs(s, dir), "doc_id", "text",
      probe = Some(docs(s, dir).filter(col("doc_id") % 13 === 0)),
      minChars = 250, maxChars = 100000,
      decontaminateExactNgrams = 13)
      .select(col("doc_id"), col("split"))

  /** [[curatePipelineQ]] with the TRAINED-classifier gate ON: curate
    * runs over the classifier plant corpus with the memoized model and
    * `maxQualityScore = 0.094` — a threshold that measurably
    * discriminates (drops 18 junk / 3 clean docs at sf0.01, 106 / 2 at
    * sf0.1). The oracle replays training (10 unrolled GD rounds),
    * scoring, the length+score gates, exact dedup, and the split hash.
    */
  private def curateClassifierQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pipeline.curate(
      classifierDocs(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text",
      minChars = 250, maxChars = 100000,
      qualityModel = Some(trainedClassifier(s, dir)),
      maxQualityScore = 0.094)
      .select(col("doc_id"), col("split"))

  /** [[curatePipelineQ]] with the quality stage ON, and the stage
    * GENUINELY exercised: every eleventh document's text is replaced
    * with a long repeated-junk page (unique per doc so exact dedup
    * would keep them all) — those pass the length gate and die on
    * rep_ratio, so the output visibly differs from the quality-off
    * chain. The probe stays the ORIGINAL %13 docs, so the shared
    * decontamination band CTE still applies. The oracle composes the
    * quality predicate into the curation chain's length-gate CTE over
    * the same planted corpus.
    */
  /** Shared recycled-span passage for the exposure-curation gate: 28
    * words, so every %13 doc carries 16 fully-inside (shared) grams
    * and 3 tail-crossing (unique) ones — exposure 16/19 ≈ 0.84.
    */
  private val CurateExposurePassage: String =
    "the shared benchmark passage about distributed query engines " +
      "repeats verbatim across many crawled documents and therefore " +
      "every one of its thirteen word windows appears in numerous " +
      "other places"

  /** Entropy + memorization-exposure curation gate: every 17th doc is
    * replanted as near-zero-entropy filler (dropped by the entropy
    * gate), every other 13th as a recycled passage + unique tail
    * (survives entropy and exact dedup, drops at the exposure cap).
    * Oracle replays length gate → entropy histogram gate →
    * exact-normalized dedup → shared-gram exposure on the survivors →
    * split hash.
    */
  private def curateExposureQ(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).withColumn("text",
      when(col("doc_id") % 17 === 0, expr("repeat('aa ', 120)"))
        .when(col("doc_id") % 13 === 0,
          concat(lit(CurateExposurePassage), lit(" uniq tail "),
            col("doc_id").cast("string")))
        .otherwise(col("text")))
    graft.operators.Pipeline.curate(planted, "doc_id", "text",
      entropyRange = (2.0, 10.0), maxGramExposure = 0.5)
      .select(col("doc_id"), col("split"))
  }

  /** Script-routing curation gate: the [[scriptRatiosQ]] plants flow
    * through `curate(allowedScripts = latin)` — non-Latin-dominant
    * docs drop at the routing stage, then exact dedup + split as
    * usual; oracle replays the script CASE, the filter, the dedup,
    * and the split hash.
    */
  private def curateScriptQ(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).withColumn("text",
      when(col("doc_id") % 19 === 0,
        lit("Привет мир это русский текст документа"))
        .when(col("doc_id") % 19 === 5,
          lit("日本語のテキスト mixed with ラテン and 漢字"))
        .when(col("doc_id") === 7, lit("مرحبا بالعالم"))
        .otherwise(col("text")))
    graft.operators.Pipeline.curate(planted, "doc_id", "text",
      allowedScripts = Seq("latin"))
      .select(col("doc_id"), col("split"))
  }

  private def curateQualityQ(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).withColumn("text",
      when(col("doc_id") % 11 === 0,
        concat(lit("junkdoc "), col("doc_id").cast("string"),
          expr("repeat(' zz', 150)")))
        .otherwise(col("text")))
    graft.operators.Pipeline.curate(
      planted, "doc_id", "text",
      probe = Some(docs(s, dir).filter(col("doc_id") % 13 === 0)),
      minChars = 250, maxChars = 100000, qualityFilter = true)
      .select(col("doc_id"), col("split"))
  }

  /** Start-addressed sequence packing gate: n_chars stands in for the
    * token count; the oracle replays the bucket hash + exclusive window
    * cumsum + div/mod arithmetic verbatim.
    */
  private def packSequencesQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.packSequences(
      docs(s, dir).select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", seqTokens = 2048L, nBuckets = 8)

  /** Trainer observability gate: the efficiency row of the same pack
    * assignment `pack_sequences` verifies — padding only in each
    * bucket's LAST pack, boundary-straddling docs counted once.
    */
  private def packEfficiencyQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.packEfficiency(
      packSequencesQ(s, dir), "n_chars", seqTokens = 2048L)

  /** Materialized-pack gate: the END of the corpus→trainer pipeline —
    * exact BPE counts address the packs, token ids gather into them,
    * documents split across pack boundaries. The oracle replays id
    * derivation, bucket hash, window cumsum, span explode, list slicing
    * and the ordered gather arithmetically.
    */
  private def packMaterializeQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val counts = d.select(col("doc_id"),
      TextFunctions.bpeTokenCount(col("text"),
        graft.functions.Bpe.fixtureMerges).as("n_bpe_tokens"))
    val ids = TextAnalysis.tokenIdsBpe(d, "doc_id", "text")
    val packed = graft.operators.Sampling.packSequences(
      counts, "doc_id", "n_bpe_tokens", seqTokens = 512L, nBuckets = 8)
    graft.operators.Sampling.materializePacks(packed, ids,
      "doc_id", "n_bpe_tokens", "token_ids", seqTokens = 512L)
      .select(col("pack_bucket"), col("pack_id"), col("n_tokens"),
        concat_ws(",", transform(col("token_ids"), x => x.cast("string")))
          .as("ids_csv"))
  }

  /** Pack-sink roundtrip gate: the pack_materialize pipeline is written
    * as a sharded pack set (`Packs.writePacks`, numFiles=16 over 8
    * buckets → ≤ 2 shards per bucket) and read back; the emitted rows
    * come from the LOADED frame plus its meta row, so the oracle — the
    * pack_materialize arithmetic replay plus the constant meta — hash-
    * matching proves byte-exact id persistence, the partition-column
    * long round-trip, and the vocabulary fingerprint.
    */
  private def packPersistQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val counts = d.select(col("doc_id"),
      TextFunctions.bpeTokenCount(col("text"),
        graft.functions.Bpe.fixtureMerges).as("n_bpe_tokens"))
    val ids = TextAnalysis.tokenIdsBpe(d, "doc_id", "text")
    val packed = graft.operators.Sampling.packSequences(
      counts, "doc_id", "n_bpe_tokens", seqTokens = 512L, nBuckets = 8)
    val packs = graft.operators.Sampling.materializePacks(packed, ids,
      "doc_id", "n_bpe_tokens", "token_ids", seqTokens = 512L)
    val path = s"/tmp/graft_packs_${Integer.toHexString(dir.hashCode)}"
    graft.sources.Packs.writePacks(packs, path, seqTokens = 512L,
      nBuckets = 8,
      mergesFingerprint = graft.functions.Bpe.mergesFingerprint(
        graft.functions.Bpe.fixtureMerges),
      numFiles = 16)
    val loaded = graft.sources.Packs.loadPacks(s, path)
    require(loaded.seqTokens == 512L && loaded.nBuckets == 8,
      "pack meta must round-trip")
    loaded.packs.select(col("pack_bucket"), col("pack_id"),
      col("n_tokens"),
      concat_ws(",", transform(col("token_ids"), x => x.cast("string")))
        .as("ids_csv"),
      lit(loaded.seqTokens).as("seq_tokens"),
      lit(loaded.nBuckets.toLong).as("n_buckets"),
      lit(loaded.mergesFingerprint).as("merges_fingerprint"))
  }

  /** Lake-format roundtrip gate: documents → JSON-lines (gzip) → read
    * back with the EXPLICIT schema (inference is a full extra pass at
    * scale) → ORC → read back. The emitted rows come from the END of
    * the chain, so the oracle hash-matching the raw parquet proves
    * BOTH codecs preserve every column byte-for-byte on the real
    * corpus (the csv leg is spec-covered on fixtures — csv cannot
    * carry the long type fidelity this comparator checks without
    * per-column casts).
    */
  /** Z-order layout gate: lineitem is rewritten Z-ordered on
    * (l_orderkey, l_partkey) — the write is load-bearing (the emitted
    * frame reads back through the new layout) — and each row's Morton
    * key is recomputed from the read-back table's global stats; the
    * oracle replays the scaling and the 32-term bit interleave. The
    * file-pruning effect of the layout (footer min/max disjointness,
    * point-query file counts) is spec-pinned — range-partitioner
    * boundaries are sampled and not engine-replayable.
    */
  /** OPTIMIZE-ZORDER gate: half the table written clustered, the rest
    * appended UNclustered, then [[graft.sources.Tables.compactZOrdered]]
    * re-clusters the whole — the read-back + recomputed z-values must
    * equal the from-scratch build's (oracle shared verbatim with
    * `layout_zorder`: same rows, same global stats, same lanes).
    */
  private def layoutZorderCompactQ(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val path = s"/tmp/graft_zorder_cpt_${Integer.toHexString(dir.hashCode)}"
    val l = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey")
    Tables.writeZOrdered(l.filter(col("l_orderkey") % 2 === 0),
      Seq("l_orderkey", "l_partkey"), path, numFiles = 8)
    Tables.appendZOrdered(l.filter(col("l_orderkey") % 2 =!= 0), path,
      numFiles = 4)
    Tables.compactZOrdered(s, path, Seq("l_orderkey", "l_partkey"),
      numFiles = 8)
    val r = s.read.parquet(path)
    val stats = r.agg(
      min(col("l_orderkey").cast("long")), max(col("l_orderkey").cast("long")),
      min(col("l_partkey").cast("long")), max(col("l_partkey").cast("long")))
      .head()
    val lanes = Seq(
      Tables.zorderScale(col("l_orderkey"), stats.getLong(0), stats.getLong(1)),
      Tables.zorderScale(col("l_partkey"), stats.getLong(2), stats.getLong(3)))
    r.select(col("l_orderkey"), col("l_linenumber"),
      Tables.zorderValue(lanes).as("zval"))
  }

  private def layoutZorderQ(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val path = s"/tmp/graft_zorder_${Integer.toHexString(dir.hashCode)}"
    val l = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey")
    Tables.writeZOrdered(l, Seq("l_orderkey", "l_partkey"), path,
      numFiles = 8)
    val r = s.read.parquet(path)
    val stats = r.agg(
      min(col("l_orderkey").cast("long")), max(col("l_orderkey").cast("long")),
      min(col("l_partkey").cast("long")), max(col("l_partkey").cast("long")))
      .head()
    val lanes = Seq(
      Tables.zorderScale(col("l_orderkey"), stats.getLong(0), stats.getLong(1)),
      Tables.zorderScale(col("l_partkey"), stats.getLong(2), stats.getLong(3)))
    r.select(col("l_orderkey"), col("l_linenumber"),
      Tables.zorderValue(lanes).as("zval"))
  }

  /** Three-lane Z-order gate ([[layoutZorderQ]]'s stride-3 sibling —
    * bit `b` of lane `i` lands at `3b + i`, which the 2-lane gate
    * cannot exercise): per-row Morton keys over (l_orderkey,
    * l_partkey, l_suppkey) at 16 bits/lane (48-bit keys), arithmetic
    * only — the physical-write path is [[layoutZorderQ]]'s.
    */
  private def layoutZorder3Q(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val l = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val stats = l.agg(
      min(col("l_orderkey").cast("long")), max(col("l_orderkey").cast("long")),
      min(col("l_partkey").cast("long")), max(col("l_partkey").cast("long")),
      min(col("l_suppkey").cast("long")), max(col("l_suppkey").cast("long")))
      .head()
    val lanes = Seq(
      Tables.zorderScale(col("l_orderkey"), stats.getLong(0), stats.getLong(1)),
      Tables.zorderScale(col("l_partkey"), stats.getLong(2), stats.getLong(3)),
      Tables.zorderScale(col("l_suppkey"), stats.getLong(4), stats.getLong(5)))
    l.select(col("l_orderkey"), col("l_linenumber"),
      Tables.zorderValue(lanes).as("zval"))
  }

  private def sourceRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_srcrt_${Integer.toHexString(dir.hashCode)}"
    val d = docs(s, dir)
    d.write.mode("overwrite").option("compression", "gzip")
      .json(s"$base/json")
    val viaJson = graft.sources.Tables.readAs(s, s"$base/json", "json",
      Some(d.schema))
    viaJson.write.mode("overwrite").orc(s"$base/orc")
    graft.sources.Tables.readAs(s, s"$base/orc", "orc", Some(d.schema))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
  }

  /** Trained-langID gates: the profile is learned from the corpus's own
    * `lang` labels (char-trigram doc frequencies, top-512 per language)
    * and every document is scored against every language. The corpus's
    * per-language texts are near-iid synthetic prose, so the scores sit
    * close together — which is exactly why the gate emits the rounded
    * per-(doc, lang) score MATRIX rather than an argmax (a float-tie
    * argmax would be flaky across engines; accuracy on genuinely
    * separable text is the spec's job, on a real multilingual fixture).
    */
  private def langidTrainQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langIdTrain(docs(s, dir), "text", "lang")

  // NO cross-query model cache here: a memoized localCheckpoint'd model
  // (the r13-r14 pattern) is invisible to Bench's per-query
  // unpersist-everything cleanup, so the SECOND query to hit the cache
  // finds an entry whose checkpoint blocks are gone and dies with
  // "lineage truncated" (exactly how langid_segments failed its first
  // bench run). Each gate trains per call — ~0.5 s, the price of a
  // harness that cannot dangle — and langIdScore's internal model
  // checkpoint is per-call, ContextCleaner-freed.

  private def langidScoreQ(s: SparkSession, dir: String): DataFrame =
    // Rounding for the oracle hash lives HERE, not in the library —
    // langIdScore returns full double precision.
    TextAnalysis.langIdScore(docs(s, dir), "doc_id", "text",
      TextAnalysis.langIdTrain(docs(s, dir), "text", "lang"))
      .withColumn("score", round(col("score"), 6))

  /** Paragraph-level language segmentation gate: lined docs (a
    * newline every six words) scored paragraph-by-paragraph under the
    * trained model; the oracle replays training, per-paragraph
    * NB scoring, the round-6 argmax, and the per-doc majority vote.
    */
  private def langidSegmentsQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langIdSegments(linedDocs(s, dir), "doc_id", "text",
      TextAnalysis.langIdTrain(docs(s, dir), "text", "lang"))

  /** Classifier gates: junk tokens are appended to every eleventh
    * document and those documents labeled 1 — a deterministic
    * separable corpus at any SF. The oracle replays feature hashing
    * (`md5`-prefix bucket ids), the L1-normalized bag, and the SAME 10
    * unrolled full-batch rounds at lr=4 arithmetically.
    */
  private def plantJunk(id: Column, text: Column): Column =
    when(id % 11 === 0,
      concat(text, lit(" junkjunk spamspam junkjunk spamspam")))
      .otherwise(text)

  private def classifierDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      plantJunk(col("doc_id"), col("text")).as("text"),
      when(col("doc_id") % 11 === 0, lit(1.0)).otherwise(lit(0.0))
        .as("label"))

  /** 10 rounds at lr=4: measured AUC 0.96 separating the planted junk
    * docs at sf0.01 (3 gentle rounds only reach 0.82 — absolute
    * probabilities compress toward the 9% class prior either way, the
    * RANKING is what a quality filter thresholds on). Memoized per
    * sfDir (training is deterministic, so reuse is sound): the score
    * gate then measures SCORING — a shuffle-free native-expression
    * map — not a redundant retrain per bench rep.
    */
  private val classifierCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, graft.operators.Classifier.Model]()

  private def trainedClassifier(
      s: SparkSession, dir: String): graft.operators.Classifier.Model =
    classifierCache.computeIfAbsent(dir, d =>
      graft.operators.Classifier.train(classifierDocs(s, d),
        "doc_id", "text", "label", buckets = 64, rounds = 10, lr = 4.0))

  /** Always trains FRESH (and refreshes the cache) so its bench row
    * measures the 10-round GD itself; only the score gate reads the
    * memoized model.
    */
  private def classifierTrainQ(s: SparkSession, dir: String): DataFrame = {
    val m = graft.operators.Classifier.train(classifierDocs(s, dir),
      "doc_id", "text", "label", buckets = 64, rounds = 10, lr = 4.0)
    classifierCache.put(dir, m)
    import s.implicits._
    m.weights.zipWithIndex.map { case (v, b) => (b.toLong, v) }.toSeq
      .toDF("bucket", "weight")
  }

  private def classifierScoreQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Classifier.score(classifierDocs(s, dir), "doc_id",
      "text", trainedClassifier(s, dir))
      .select(col("doc_id"), col("score"))

  /** Bigram-feature training on the same planted corpus — the fastText
    * bag-of-n-grams lever (Joulin et al. 2016 §2). Trains fresh (the
    * bench row measures the GD with the ~2× feature table) and caches
    * for the scoring gate.
    */
  private def classifierTrainBigramQ(s: SparkSession, dir: String): DataFrame = {
    val m = graft.operators.Classifier.train(classifierDocs(s, dir),
      "doc_id", "text", "label", buckets = 64, rounds = 10, lr = 4.0,
      ngrams = 2)
    classifierCache.put(s"$dir#bigram", m)
    import s.implicits._
    m.weights.zipWithIndex.map { case (v, b) => (b.toLong, v) }.toSeq
      .toDF("bucket", "weight")
  }

  /** Scoring with the bigram model: the ngrams field rides in the
    * Model, so this exercises HashedBagScoreExpr's pair loop
    * end-to-end against the oracle's replayed arithmetic.
    */
  private def classifierScoreBigramQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Classifier.score(classifierDocs(s, dir), "doc_id",
      "text", classifierCache.computeIfAbsent(s"$dir#bigram", _ =>
        graft.operators.Classifier.train(classifierDocs(s, dir),
          "doc_id", "text", "label", buckets = 64, rounds = 10,
          lr = 4.0, ngrams = 2)))
      .select(col("doc_id"), col("score"))

  private def sampleStratifiedQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedHashSample(
      t(s, dir, "documents"), "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.1)
      .select("doc_id", "lang")

  private def sampleExactQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.sampleExactPerStratum(
      t(s, dir, "documents").select("doc_id", "lang"), "doc_id", "lang",
      n = 20)

  /** Cluster-balanced diversity sampling over the embeddings table:
    * nearest-centroid assignment (the `ann_ivf_topk` centroid fixture)
    * composed with the exact-n-per-stratum heap — the oracle replays
    * round-6 cosine assignment plus the `sample_exact` hash ranking,
    * proving the two audited primitives compose without drift.
    */
  private def sampleClusterBalancedQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    graft.operators.Sampling.clusterBalancedSample(
      e, "vec_id", "embedding", centroids, n = 5)
  }

  /** Leakage-safe-split gate: every LSH near-dup cluster moves into
    * ONE split as a unit — component roots over the pair graph, the
    * split hash on the ROOT id. Oracle: the recursive-CTE component
    * labeling + `split_assign`'s CASE over the root's hash.
    */
  private def splitLeakageSafeQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.Sampling.leakageSafeSplit(
      d.select("doc_id"), "doc_id",
      Dedup.minhashLshPairs(d, "doc_id", "text"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
  }

  private def splitAssignQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.assignSplit(
      t(s, dir, "documents").select("doc_id"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  private def knnBrute(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.knnBruteForce(e.filter(col("vec_id") < 10), e,
      "vec_id", "embedding", k = 5)
  }

  /** Margin-based bitext mining gate: the even/odd vec_id halves stand
    * in for two language sides; each even vector mines its best-margin
    * odd partner (Artetxe & Schwenk's ratio margin over top-4
    * neighborhoods in both directions), kept above threshold 1.0.
    */
  private def bitextMineQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.mineBitext(
      e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", k = 4, threshold = 1.0)
  }

  /** IVF-fed bitext mining gate — the corpus-scale path: both kNN
    * directions cell-bounded under the shared centroid fixture, margin
    * layer unchanged. The oracle replays assignment, same-cell
    * cross-set kNN, and the margin chain.
    */
  private def bitextMineIvfQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    Similarity.mineBitextIvf(
      e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", centroids, k = 4, threshold = 1.0)
  }

  /** PQ-encoded bitext mining gate — the 100 TB form: both retrieval
    * directions run ADC over the other side's PQ codes (the trained
    * codebook of `pq_train`), so no float vector crosses the cell
    * join; the margin layer is unchanged. The oracle reconstructs
    * vectors from replayed codes and scores round-6 cosine — the ADC
    * fold must equal reconstruct-then-cosine exactly, inside the full
    * margin chain.
    */
  private def bitextMineIvfPqQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    Similarity.mineBitextIvfPq(
      e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", centroids, trainedPqCb(e, dir), m = 8,
      k = 4, threshold = 1.0)
  }

  private def annLshBucketsQ(s: SparkSession, dir: String): DataFrame =
    Similarity.lshBuckets(embs(s, dir), "vec_id", "embedding")

  private def annLshTopKQ(s: SparkSession, dir: String): DataFrame =
    Similarity.annLshTopK(embs(s, dir), "vec_id", "embedding", k = 5)

  private def annIvfTopKQ(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(embs(s, dir), "vec_id", "embedding", k = 5,
      centroidPred = col("vec_id") % 100 === 0)

  /** ANN recall gate: IVF top-5 measured against the brute-force
    * ground truth for query vec_id < 50 — the recall/latency trade
    * quantified; the oracle replays BOTH retrievers and the per-query
    * hit fraction.
    */
  private def retrievalRecallQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val truth = Similarity.knnBruteForce(e.filter(col("vec_id") < 50), e,
      "vec_id", "embedding", k = 5)
    val cand = Similarity.ivfTopK(e, "vec_id", "embedding", k = 5,
        centroidPred = col("vec_id") % 100 === 0)
      .filter(col("query_id") < 50)
    graft.operators.Retrieval.recallAtK(cand, truth,
      "query_id", "neighbor_id", "knn_rank", k = 5)
  }

  /** MRR sibling of [[retrievalRecallQ]]: same IVF-vs-brute fixture,
    * per-query reciprocal rank of the first true neighbor found.
    */
  private def retrievalMrrQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val truth = Similarity.knnBruteForce(e.filter(col("vec_id") < 50), e,
      "vec_id", "embedding", k = 5)
    val cand = Similarity.ivfTopK(e, "vec_id", "embedding", k = 5,
        centroidPred = col("vec_id") % 100 === 0)
      .filter(col("query_id") < 50)
    graft.operators.Retrieval.reciprocalRankAtK(cand, truth,
      "query_id", "neighbor_id", "knn_rank", k = 5)
  }

  /** nDCG sibling of [[retrievalRecallQ]]/[[retrievalMrrQ]]: same
    * fixture, position-discounted credit for every found neighbor.
    */
  private def retrievalNdcgQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val truth = Similarity.knnBruteForce(e.filter(col("vec_id") < 50), e,
      "vec_id", "embedding", k = 5)
    val cand = Similarity.ivfTopK(e, "vec_id", "embedding", k = 5,
        centroidPred = col("vec_id") % 100 === 0)
      .filter(col("query_id") < 50)
    graft.operators.Retrieval.ndcgAtK(cand, truth,
      "query_id", "neighbor_id", "knn_rank", k = 5)
  }

  private def annIvfMultiprobeQ(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(embs(s, dir), "vec_id", "embedding", k = 5,
      centroidPred = col("vec_id") % 100 === 0, probes = 2)

  private def annLshMultiprobeQ(s: SparkSession, dir: String): DataFrame =
    Similarity.annLshMultiprobe(embs(s, dir), "vec_id", "embedding",
      k = 5, probes = 3)

  /** IVF k-means training: hash-sampled seeds + 1 Lloyd iteration, cells
    * serialized for the hash comparator (doubles rounded to 6 decimals
    * before formatting).
    */
  private def ivfTrainQ(s: SparkSession, dir: String): DataFrame =
    Similarity.trainCentroids(embs(s, dir), "vec_id", "embedding",
      k = 8, iters = 1)
      .select(col("centroid_id"),
        array_join(transform(col("__cv"),
          x => format_string("%.6f", round(x, 6))), ",").as("centroid"))

  /** PQ encode: m = 8 subspaces over the 64-dim embeddings, codebook
    * from the 8 smallest-id anchor vectors (deterministic — the same
    * id-selected-quantizer convention as the IVF gates); codes
    * serialized for the comparator.
    */
  private def pqEncodeQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val cb = Similarity.pqCodebook(e, "vec_id", "embedding",
      col("vec_id") < 8)
    Similarity.pqEncode(e, "vec_id", "embedding", cb, m = 8)
      .select(col("vec_id"),
        array_join(transform(col("codes"), c => c.cast("string")), ",")
          .as("codes_csv"))
  }

  /** Per-subspace-trained PQ codebook (8×8 over the 64-dim embeddings,
    * hash-sampled half of the corpus, 1 Lloyd iteration — seeded like
    * ivf_train), rounded to 6 decimals so both engines' downstream ADC
    * math runs on IDENTICAL numbers (the trained averages differ in
    * final ulps across engines; unrounded they could flip a 6-decimal
    * cosine at a rounding boundary). Memoized per dataset dir — the
    * production shape: a pipeline trains the quantizer once and reuses
    * it across every search; without the memo each ADC query re-runs
    * the full Lloyd pipeline (measured 3× on ann_pq_topk).
    */
  private val pqCbCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  private def trainedPqCb(e: DataFrame, dir: String): Array[Array[Double]] =
    pqCbCache.computeIfAbsent(dir, _ =>
      Similarity.pqTrainCodebook(e, "vec_id", "embedding", m = 8, k = 8,
        iters = 1, sampleFraction = 0.5)
        .map(_.map(x =>
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))

  /** Per-subspace PQ codebook training gate: distributed Lloyd over the
    * subvector fan-out ([[Similarity.pqTrainSubCentroids]]); the oracle
    * replays sample/seed/assign/recompute in SQL.
    */
  private def pqTrainQ(s: SparkSession, dir: String): DataFrame =
    Similarity.pqTrainSubCentroids(embs(s, dir), "vec_id", "embedding",
      m = 8, k = 8, iters = 1, sampleFraction = 0.5)
      .select(col("sub"), col("code"),
        array_join(transform(col("__cv"),
          x => format_string("%.6f", round(x, 6))), ",").as("centroid_csv"))

  /** ADC top-k over the PQ-compressed corpus: exact query vectors
    * (vec_id < 10) against corpus codes only — codes from the TRAINED
    * per-subspace codebook (r8: anchor-selected).
    */
  private def annPqTopKQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.pqTopK(e.filter(col("vec_id") < 10), e,
      "vec_id", "embedding", trainedPqCb(e, dir), m = 8, k = 5)
  }

  /** IVF-PQ: id-selected coarse centroids (as the IVF gates) + the
    * TRAINED per-subspace PQ codebook; 2-probe query fan-out, ADC
    * scoring within cells.
    */
  private def annIvfPqTopKQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    Similarity.ivfPqTopK(e.filter(col("vec_id") < 10), e,
      "vec_id", "embedding", centroids, trainedPqCb(e, dir), m = 8, k = 5,
      probes = 2)
  }

  /** Exact re-rank (FAISS IndexRefineFlat) over the same IVF-PQ
    * fixture: ADC top-20 candidates re-scored with exact cosine, top-5
    * kept. The oracle replays the full ADC chain then the exact
    * re-rank, so `cos_sim` here is the true cosine, not the ADC
    * estimate.
    */
  private def annIvfPqRefinedQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    Similarity.ivfPqRefinedTopK(e.filter(col("vec_id") < 10), e,
      "vec_id", "embedding", centroids, trainedPqCb(e, dir), m = 8, k = 5,
      probes = 2, refine = 4)
  }

  /** The refine stage's recall report: per query, recall@5 against
    * brute-force truth for raw ADC top-5 vs the refined top-5 — the
    * FAISS-style evidence that one bounded exact join buys back
    * quantization recall.
    */
  private def annIvfPqRefineRecallQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    val queries = e.filter(col("vec_id") < 10)
    val cb = trainedPqCb(e, dir)
    val truth = Similarity.knnBruteForce(queries, e, "vec_id", "embedding",
      k = 5)
    val adc = Similarity.ivfPqTopK(queries, e, "vec_id", "embedding",
      centroids, cb, m = 8, k = 5, probes = 2)
    val refined = Similarity.ivfPqRefinedTopK(queries, e, "vec_id",
      "embedding", centroids, cb, m = 8, k = 5, probes = 2, refine = 4)
    val rAdc = graft.operators.Retrieval.recallAtK(adc, truth,
        "query_id", "neighbor_id", "knn_rank", k = 5)
      .select(col("query_id"), col("recall").as("recall_adc"))
    val rRef = graft.operators.Retrieval.recallAtK(refined, truth,
        "query_id", "neighbor_id", "knn_rank", k = 5)
      .select(col("query_id"), col("recall").as("recall_refined"))
    rAdc.join(rRef, Seq("query_id"))
  }

  /** Residual IVF-PQ (FAISS IVFADC layout): corpus codes encode
    * residuals against the id-selected coarse centroids, with the
    * residual codebook TRAINED by the same per-subspace Lloyd as
    * `pq_train` — run over the residual frame, memoized per dataset
    * like [[trainedPqCb]], rounded to 6 decimals for cross-engine
    * parity. The oracle replays residual derivation + training +
    * encode, reconstructs centroid + decoded residual, and scores
    * plain cosine, so the ADC fold (cross/norm tables, LUT walk) must
    * equal reconstruct-then-cosine at 6 decimals.
    */
  private def residualFrame(e: DataFrame, centroids: DataFrame): DataFrame =
    Similarity.ivfAssign(e, "vec_id", "embedding", centroids)
      .join(broadcast(centroids), Seq("centroid_id"))
      .select(col("vec_id"),
        zip_with(col("embedding").cast("array<double>"),
          col("__cv").cast("array<double>"), (x, c) => x - c)
          .as("embedding"))

  private val pqResCbCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  private def trainedResidualCb(e: DataFrame, centroids: DataFrame,
      dir: String): Array[Array[Double]] =
    pqResCbCache.computeIfAbsent(dir, _ =>
      Similarity.pqTrainCodebook(residualFrame(e, centroids), "vec_id",
        "embedding", m = 8, k = 8, iters = 1, sampleFraction = 0.5)
        .map(_.map(x =>
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))

  private def annIvfPqResidualQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    Similarity.ivfPqResidualTopK(e.filter(col("vec_id") < 10), e,
      "vec_id", "embedding", centroids,
      trainedResidualCb(e, centroids, dir), m = 8, k = 5, probes = 2)
  }

  /** Train-once-search-many roundtrip: the IVFADC artifacts (coarse
    * centroids, trained residual codebook, corpus codes) are written to
    * disk, loaded back, and searched via the encoded path — nothing
    * in-memory crosses the boundary, so a hash-match against
    * [[annIvfPqResidualQ]]'s oracle proves a LATER JOB could serve the
    * same searches with zero retraining or re-encoding.
    */
  private def annIndexPersistQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    val cb = trainedResidualCb(e, centroids, dir)
    val codes = Similarity.ivfPqResidualEncode(
      e, "vec_id", "embedding", centroids, cb, m = 8)
    val path = s"/tmp/graft_annidx_${Integer.toHexString(dir.hashCode)}"
    graft.sources.AnnIndex.write(path, centroids, cb, codes,
      m = 8, residual = true)
    val idx = graft.sources.AnnIndex.load(s, path)
    require(idx.residual, "loaded index must be residual-coded")
    Similarity.ivfPqResidualTopKEncoded(e.filter(col("vec_id") < 10),
      idx.codes, "vec_id", "embedding", idx.centroids, idx.codebook,
      idx.m, k = 5, probes = 2)
  }

  /** Refined probe over a PERSISTED raw-vector index: frozen
    * centroids/codebook/codes from disk drive the ADC top-20 pass,
    * then [[Similarity.refineExact]] joins the float vectors back for
    * the exact top-5 — the full FAISS IndexRefineFlat deployment over
    * a loaded artifact. Shares the `ann_ivfpq_refined` oracle
    * VERBATIM: persistence must not move a single score.
    */
  private def annIndexRefinedQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    val cb = trainedPqCb(e, dir)
    val codes = Similarity.ivfPqEncode(
      e, "vec_id", "embedding", centroids, cb, m = 8)
    val path = s"/tmp/graft_annidx_raw_${Integer.toHexString(dir.hashCode)}"
    graft.sources.AnnIndex.write(path, centroids, cb, codes,
      m = 8, residual = false)
    val idx = graft.sources.AnnIndex.load(s, path)
    require(!idx.residual, "loaded index must be raw-coded")
    val queries = e.filter(col("vec_id") < 10)
    val adc = Similarity.ivfPqTopKEncoded(queries, idx.codes, "vec_id",
      "embedding", idx.centroids, idx.codebook, idx.m, k = 20, probes = 2)
    Similarity.refineExact(adc, queries, e, "vec_id", "embedding", k = 5)
  }

  /** Incremental-append roundtrip: the index is written from two thirds
    * of the corpus, the remaining third is encoded against the FROZEN
    * loaded codebook/centroids and appended, and the search over
    * (initial + appended) codes must hash-match the from-scratch
    * full-corpus oracle — proving a crawl batch can join the index with
    * zero retraining and identical search results.
    */
  private def annIndexAppendQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    val cb = trainedResidualCb(e, centroids, dir)
    val initial = e.filter(col("vec_id") % 3 =!= 0)
    val incoming = e.filter(col("vec_id") % 3 === 0)
    val codes = Similarity.ivfPqResidualEncode(
      initial, "vec_id", "embedding", centroids, cb, m = 8)
    val path = s"/tmp/graft_annidx_app_${Integer.toHexString(dir.hashCode)}"
    graft.sources.AnnIndex.write(path, centroids, cb, codes,
      m = 8, residual = true)
    graft.sources.AnnIndex.append(s, path, incoming, "vec_id", "embedding")
    val idx = graft.sources.AnnIndex.load(s, path)
    Similarity.ivfPqResidualTopKEncoded(e.filter(col("vec_id") < 10),
      idx.codes, "vec_id", "embedding", idx.centroids, idx.codebook,
      idx.m, k = 5, probes = 2)
  }

  /** ANN-index compaction gate: [[annIndexAppendQ]]'s build + append,
    * folded by [[graft.sources.AnnIndex.compact]] before the search —
    * codes rows are the data, so the compacted search must return the
    * appended one's rows exactly (oracle shared verbatim).
    */
  private def annIndexCompactQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    val cb = trainedResidualCb(e, centroids, dir)
    val codes = Similarity.ivfPqResidualEncode(
      e.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding",
      centroids, cb, m = 8)
    val path = s"/tmp/graft_annidx_cpt_${Integer.toHexString(dir.hashCode)}"
    graft.sources.AnnIndex.write(path, centroids, cb, codes,
      m = 8, residual = true)
    graft.sources.AnnIndex.append(s, path,
      e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding")
    graft.sources.AnnIndex.compact(s, path, numFiles = 4)
    val idx = graft.sources.AnnIndex.load(s, path)
    Similarity.ivfPqResidualTopKEncoded(e.filter(col("vec_id") < 10),
      idx.codes, "vec_id", "embedding", idx.centroids, idx.codebook,
      idx.m, k = 5, probes = 2)
  }

  /** Scheduled-retrain roundtrip: the index is built with STALE
    * quantizers (centroids + residual codebook trained when only two
    * thirds of the corpus existed), the last third appends against
    * those frozen artifacts, then [[graft.sources.AnnIndex.retrain]]
    * rebuilds centroids/codebook/codes from the CURRENT corpus and
    * atomically swaps. The post-retrain search shares the
    * `ann_ivfpq_residual` oracle VERBATIM — hash-parity with a
    * from-scratch full-corpus build, which only holds if the stale
    * artifacts are fully gone (searching them returns different rows
    * by construction: different centroids ⇒ different cells, codes,
    * and ADC scores), so the re-encode and the swap are both
    * load-bearing.
    */
  private def annIndexRetrainQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val initial = e.filter(col("vec_id") % 3 =!= 0)
    val staleCents = initial.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    val staleCb = Similarity.pqTrainCodebook(
      residualFrame(initial, staleCents), "vec_id", "embedding",
      m = 8, k = 8, iters = 1, sampleFraction = 0.5)
      .map(_.map(x =>
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    val path = s"/tmp/graft_annidx_rt_${Integer.toHexString(dir.hashCode)}"
    graft.sources.AnnIndex.write(path, staleCents, staleCb,
      Similarity.ivfPqResidualEncode(initial, "vec_id", "embedding",
        staleCents, staleCb, m = 8), m = 8, residual = true)
    graft.sources.AnnIndex.append(s, path,
      e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding")
    // the cadence retrain: gate-convention quantizers over the CURRENT
    // corpus (id-selected centroids, 6-decimal-rounded trained residual
    // codebook — the same convention every ann_ivfpq_residual-family
    // gate uses, so the oracle is shared verbatim)
    graft.sources.AnnIndex.retrain(s, path, e, "vec_id", "embedding",
      c => c.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("__cv")),
      (pqFrame, _) => Similarity.pqTrainCodebook(pqFrame, "vec_id",
        "embedding", m = 8, k = 8, iters = 1, sampleFraction = 0.5)
        .map(_.map(x =>
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)))
    val idx = graft.sources.AnnIndex.load(s, path)
    require(idx.residual, "retrain must preserve the residual flag")
    Similarity.ivfPqResidualTopKEncoded(e.filter(col("vec_id") < 10),
      idx.codes, "vec_id", "embedding", idx.centroids, idx.codebook,
      idx.m, k = 5, probes = 2)
  }

  /** Group top-k via the bounded-heap partial-aggregable Aggregator —
    * same result set as q3_window_topn's window plan, produced with no
    * per-key window sort (the skew-safe plan shape).
    */
  private def groupTopKQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TopK.topKPerKey(t(s, dir, "orders"),
      Seq("o_custkey"), "o_totalprice", "o_orderkey", k = 3)

  private def ngramFreqQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.frequentNgrams(docs(s, dir), "doc_id", "text",
      n = 3, minCount = 5L)

  /** CMS-prefiltered heavy hitters. The sketch is deliberately
    * UNDERSIZED (width 64 against tens of thousands of gram
    * occurrences), so the prefilter is collision-saturated and every
    * gram rides through to the exact confirmation aggregate — proving
    * the exact stage is load-bearing for the hash match (the
    * `decontaminate_bloom` adversarial-sizing pattern); the
    * adequately-sized pruning case is spec-pinned. Oracle = the exact
    * [[TextAnalysis.frequentNgrams]] semantics: the sketch never
    * changes the answer, only the shuffle size.
    */
  private def heavyHittersQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.frequentNgramsSketched(docs(s, dir), "doc_id", "text",
      n = 2, minCount = 8L, depth = 4, width = 64)

  /** Per-group heavy hitters ([[heavyHittersQ]] partitioned by lang):
    * same adversarial undersizing, exact per-group semantics.
    */
  private def heavyHittersGroupedQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.frequentNgramsSketchedBy(docs(s, dir), "doc_id", "text",
      "lang", n = 2, minCount = 5L, depth = 4, width = 64)

  /** Classifier threshold-sweep gate: the trained junk model's scores
    * (round-6, so both engines compare the same values against the
    * threshold grid) against the planted labels over 21 thresholds.
    */
  private def classifierEvalQ(s: SparkSession, dir: String): DataFrame = {
    val m = trainedClassifier(s, dir)
    val scored = classifierDocs(s, dir).select(col("doc_id"),
      col("label"),
      round(graft.operators.Classifier.scoreColumn(col("text"), m), 6)
        .as("score"))
    graft.operators.Classifier.thresholdReport(
      scored, "score", "label", buckets = 20)
  }

  /** Streaming decontamination, gated against the batch oracle: the
    * filter is stateless, so the AvailableNow pass emits exactly the
    * batch decontaminate survivor set.
    */
  private def streamingDecontaminateQ(s: SparkSession, dir: String): DataFrame =
    runStreamToTable(s,
      graft.streaming.StreamingDedup.decontaminateStream(s,
        s"$dir/{documents.parquet}",
        probe = docs(s, dir).filter(col("doc_id") % 7 === 0)),
      "stream_decontaminate").select(col("doc_id"), col("lang"))

  /** Unit-norm embeddings, serialized with the ivf_train convention. */
  private def embedL2NormQ(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).select(col("vec_id"),
      array_join(transform(
        graft.functions.VectorFunctions.l2Normalize(col("embedding")),
        x => format_string("%.6f", round(x, 6))), ",").as("unit_csv"))

  private def embedCentroidsQ(s: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroids(embs(s, dir), "label", "embedding")
      .select(col("label"),
        array_join(transform(col("centroid"),
          x => format_string("%.6f", round(x, 6))), ",").as("centroid_csv"))

  /** Salted skew join: the salt must be invisible in the results — the
    * oracle is the plain (unsalted) join.
    */
  private def skewJoinQ(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_quantity"))
    val o = t(s, dir, "orders")
      .select(col("o_orderkey").as("okey"), col("o_totalprice"))
    graft.operators.SkewJoin.saltedJoin(li, o, "okey", saltFactor = 4)
      .select("okey", "l_quantity", "o_totalprice")
  }

  private def textStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.stats(docs(s, dir), "doc_id", "text")

  private def langIdQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(docs(s, dir), "doc_id", "text")

  private def tokenCountsQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text")

  /** Exact BPE counts under the fixture vocabulary (`a b`, `ab c`).
    * Letter-only merge symbols keep every merge inside one pre-tokenizer
    * piece, so the oracle's replace()-arithmetic over the raw text IS
    * the merge walk: tokens = bytes - occ("ab") - occ("abc").
    */
  private def tokenCountsBpeQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCountsBpe(docs(s, dir), "doc_id", "text")

  /** BPE-boundary chunking gate: chunk_text is a byte slice no SQL
    * engine re-derives cheaply, so the oracle checks the WINDOW
    * arithmetic — per-chunk token counts from the fixture-vocab total
    * (the slicing itself is spec-pinned: chunks reassemble to the
    * original text at overlap 0).
    */
  private def chunkTokensBpeQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkByTokensBpe(docs(s, dir), "doc_id", "text",
      chunkTokens = 64, overlap = 16)
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"))

  /** The full corpus→trainer-input composition as ONE lazy plan: exact
    * BPE counts → domain mixing to a token budget → deterministic
    * sequence packing. Every stage is a pure id-hash/arithmetic
    * function, so the DuckDB oracle replays the whole chain and the
    * output packs must hash-match end to end.
    */
  private def trainerFeedQ(s: SparkSession, dir: String): DataFrame = {
    val counted = docs(s, dir).select(col("doc_id"), col("source"),
      graft.functions.TextFunctions
        .bpeTokenCount(col("text"), graft.functions.Bpe.fixtureMerges)
        .as("n_bpe_tokens"))
    val mixed = graft.operators.Sampling.mixToTokenBudget(
      counted, "doc_id", "source", "n_bpe_tokens",
      weights = Map("src0" -> 0.5, "src1" -> 0.3),
      budget = 10000L,
      defaultWeight = 0.2 / 18)
    graft.operators.Sampling.packSequences(
      mixed.select(col("doc_id"), col("n_bpe_tokens")),
      "doc_id", "n_bpe_tokens", seqTokens = 512L, nBuckets = 4)
  }

  /** [[mixBudgetQ]]'s twin with the token denominator = EXACT BPE
    * counts instead of n_chars — the verdict-r9 "trainer-accurate
    * budgets" wiring, oracle-gated end to end (the oracle recomputes
    * the BPE count arithmetically, then replays the whole
    * budget-fraction + hash-sample pipeline on it).
    */
  private def mixBudgetBpeQ(s: SparkSession, dir: String): DataFrame = {
    val withTokens = docs(s, dir).select(col("doc_id"), col("source"),
      graft.functions.TextFunctions
        .bpeTokenCount(col("text"), graft.functions.Bpe.fixtureMerges)
        .as("n_bpe_tokens"))
    graft.operators.Sampling.mixToTokenBudget(
      withTokens, "doc_id", "source", "n_bpe_tokens",
      weights = Map("src0" -> 0.5, "src1" -> 0.3),
      budget = 10000L,
      defaultWeight = 0.2 / 18)
  }

  private def fingerprintQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprints(docs(s, dir), "doc_id", "text")

  private def textVocabulary(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabulary(docs(s, dir), "doc_id", "text")

  private def unigramSurprisalQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramSurprisal(docs(s, dir), "doc_id", "text")

  private def bigramSurprisalQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramSurprisal(docs(s, dir), "doc_id", "text")

  private def textLenQuantiles(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lengthQuantiles(docs(s, dir), "lang", "n_chars")

  private def textQualityFlags(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityFlags(docs(s, dir), "doc_id", "text")

  /** Embedding-outlier gate: nearest-centroid assignment against the
    * %100 fixture centroids, per-cluster mean/σ of the member cosine
    * from pre-rounded sums, z=1 flags; whole chain replayed.
    */
  private def embeddingOutliersQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.embeddingOutliers(e, "vec_id", "embedding",
      e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("__cv")),
      z = 1.0)
  }

  /** Hard-negative-mining gate: top-8 cosine candidates for anchors
    * vec_id < 40; label-blocked near-dup pairs at tau 0.3 removed as
    * hidden positives; best 3 survivors per anchor re-ranked.
    */
  private def mineHardNegativesQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    graft.operators.Retrieval.hardNegatives(
      Similarity.knnBruteForce(e.filter(col("vec_id") < 40), e,
        "vec_id", "embedding", k = 8)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim")),
      Dedup.embeddingCosinePairs(e, "vec_id", "embedding", "label",
        threshold = 0.3),
      kNeg = 3)
  }

  /** Code-point-entropy gate: the information-density quality signal,
    * computed by the codegen'd native expression and replayed from a
    * per-char histogram in DuckDB.
    */
  private def charEntropyQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      round(graft.functions.TextFunctions.charEntropy(col("text")), 6)
        .as("entropy"))

  /** Memorization-exposure gate: per-doc fraction of 13-gram positions
    * shared with another doc; the oracle replays grams as TEXT (md5-
    * free membership), so the gate also witnesses that the 128-bit
    * gram keys are collision-free here.
    */
  private def gramExposureQ(s: SparkSession, dir: String): DataFrame =
    Dedup.crossDocGramExposure(docs(s, dir), "doc_id", "text")

  /** Script-detection gate: every 19th doc replanted as Cyrillic,
    * every 19th+5 as CJK-mixed, one as Arabic — testdata is
    * Latin-only, so the plants make every script lane load-bearing;
    * counts, fractions, and the precedence CASE replayed.
    */
  private def scriptRatiosQ(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).withColumn("text",
      when(col("doc_id") % 19 === 0,
        lit("Привет мир это русский текст документа"))
        .when(col("doc_id") % 19 === 5,
          lit("日本語のテキスト mixed with ラテン and 漢字"))
        .when(col("doc_id") === 7, lit("مرحبا بالعالم"))
        .otherwise(col("text")))
    TextAnalysis.scriptRatios(planted, "doc_id", "text")
  }

  /** Keyword-extraction gate: each doc's top-3 terms by tf × smooth
    * idf; tokenization, tf, df, the sklearn idf, and the rounded-
    * score/term-ASC ranking all replayed.
    */
  private def tfidfTopTermsQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopTerms(docs(s, dir), "doc_id", "text", kTop = 3)

  /** The OOV family's shared fixture: reference = the %3≠0 docs,
    * batch = the %3=0 docs with a planted novel token on every 9th
    * doc — both the planted types and whatever naturally-disjoint
    * terms the split leaves are counted by the same arithmetic on
    * both engines.
    */
  private def oovFixture(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = docs(s, dir)
    val batch = d.filter(col("doc_id") % 3 === 0)
      .withColumn("text",
        when(col("doc_id") % 9 === 0,
          concat(col("text"), lit(" zzznovel"),
            col("doc_id").cast("string")))
          .otherwise(col("text")))
    (d.filter(col("doc_id") % 3 =!= 0), batch)
  }

  private def vocabOovQ(s: SparkSession, dir: String): DataFrame = {
    val (ref, batch) = oovFixture(s, dir)
    TextAnalysis.oovRates(ref, batch, "text")
  }

  private def vocabOovByLangQ(s: SparkSession, dir: String): DataFrame = {
    val (ref, batch) = oovFixture(s, dir)
    TextAnalysis.oovRatesBy(ref, batch, "text", "lang")
  }

  /** Persisted-vocabulary probe: build the artifact from the
    * reference, probe the batch through it — ≡ the two-DataFrame
    * form, oracle shared verbatim.
    */
  private def vocabIndexOovQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_vocab_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, path)
    val (ref, batch) = oovFixture(s, dir)
    graft.sources.VocabIndex.build(ref, "text", path)
    graft.sources.VocabIndex.oov(batch, "text", path)
  }

  /** Streaming vocabulary: the reference STREAMS into the artifact
    * micro-batch by micro-batch (set union telescopes — absorb order
    * cannot matter), then the frozen artifact scores the batch — the
    * same oracle a third time.
    */
  private def streamingVocabQ(s: SparkSession, dir: String): DataFrame = {
    val hex = Integer.toHexString(dir.hashCode)
    val path = s"/tmp/graft_vocab_stream_$hex"
    val ckpt = s"/tmp/graft_vocab_ckpt_$hex"
    Commit.tombstone(s, path, ckpt)
    graft.sources.VocabIndex.ingestStream(
        docStream(s, dir).filter(col("doc_id") % 3 =!= 0), "text", path)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val (_, batch) = oovFixture(s, dir)
    graft.sources.VocabIndex.oov(batch, "text", path)
  }

  /** TF-IDF cosine all-pairs gate on the %10 subset (the brute oracle
    * is quadratic; the ENGINE runs the prefix-filtered join — the
    * oracle is the semantics, not the algorithm).
    */
  private def tfidfCosinePairsQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfCosinePairs(
      docs(s, dir).filter(col("doc_id") % 10 === 0), "doc_id", "text",
      threshold = 0.85)

  /** The retrieval family's fixed query set — shared by the direct
    * BM25 gate, the three index-artifact gates, and the hybrid-fusion
    * gate so they all replay ONE oracle formula.
    */
  private val Bm25Queries: Seq[(Long, String)] =
    Seq(0L -> "spark window merge", 1L -> "hash join table scan",
      2L -> "customer vector stream")

  private def bm25Project(df: DataFrame): DataFrame =
    df.select(col("qid"), col("doc_id"),
      round(col("score"), 6).as("score"))

  /** BM25 retrieval gate: three fixed queries over the corpus
    * vocabulary score in ONE pass; the oracle replays tokenization,
    * per-(query, doc, term) tf, df, the global (N, avgdl) statistics,
    * the Lucene idf, and the (k1, b) weighted sum.
    */
  private def bm25ScoreQ(s: SparkSession, dir: String): DataFrame =
    bm25Project(TextAnalysis.bm25Scores(
      docs(s, dir), "doc_id", "text", Bm25Queries))

  /** Index-probe parity gate: the same queries scored via the
    * PERSISTED inverted-index artifact
    * ([[graft.sources.RetrievalIndex]]) must hash-match the direct
    * one-pass form — postings, exact BIGINT stats, and the probe
    * join replay the identical formula, so the oracle is
    * [[bm25ScoreQ]]'s verbatim.
    */
  private def bm25IndexProbeQ(s: SparkSession, dir: String): DataFrame = {
    val idx = s"/tmp/graft_bm25idx_${Integer.toHexString(dir.hashCode)}"
    graft.sources.RetrievalIndex.build(docs(s, dir), "doc_id", "text", idx)
    bm25Project(graft.sources.RetrievalIndex.score(s, idx, Bm25Queries))
  }

  /** Index-append gate: build on the %3!=0 docs, append the %3==0
    * half as TWO delta batches, compact, probe — the folded artifact
    * must score identically to one built on the full corpus (BM25's
    * statistics are exactly mergeable: postings are disjoint by doc,
    * stats rows are BIGINT sums). Oracle shared verbatim with
    * [[bm25ScoreQ]].
    */
  private def bm25IndexAppendQ(s: SparkSession, dir: String): DataFrame = {
    val idx = s"/tmp/graft_bm25app_${Integer.toHexString(dir.hashCode)}"
    val d = docs(s, dir)
    graft.sources.RetrievalIndex.build(
      d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", idx)
    graft.sources.RetrievalIndex.append(s, idx,
      d.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0),
      "doc_id", "text", "a0")
    graft.sources.RetrievalIndex.append(s, idx,
      d.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 =!= 0),
      "doc_id", "text", "a1")
    graft.sources.RetrievalIndex.compact(s, idx)
    bm25Project(graft.sources.RetrievalIndex.score(s, idx, Bm25Queries))
  }

  /** Streaming-ingest gate: the %3==0 half STREAMS into the index
    * (foreachBatch → marker-guarded idempotent append), then the probe
    * must again equal the full-corpus direct form. Oracle shared
    * verbatim with [[bm25ScoreQ]] — BM25 stats merge exactly, so the
    * result is independent of micro-batching.
    */
  private def streamingBm25IngestQ(s: SparkSession, dir: String): DataFrame = {
    val idx = s"/tmp/graft_bm25str_${Integer.toHexString(dir.hashCode)}"
    val d = docs(s, dir)
    graft.sources.RetrievalIndex.build(
      d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", idx)
    graft.streaming.StreamingRetrieval.indexIngestStream(
        docStream(s, dir).filter(col("doc_id") % 3 === 0),
        idx, "doc_id", "text")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    bm25Project(graft.sources.RetrievalIndex.score(s, idx, Bm25Queries))
  }

  /** Streaming-probe gate: the fixed query set ARRIVES as a stream
    * against the frozen full-corpus index; frozen state makes scores
    * independent of micro-batching, so the union of batch outputs
    * hash-matches the direct one-pass oracle verbatim.
    */
  private def streamingBm25ProbeQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = s"/tmp/graft_bm25prb_${Integer.toHexString(dir.hashCode)}"
    val out = s"/tmp/graft_bm25prb_out_${Integer.toHexString(dir.hashCode)}"
    Commit.tombstone(s, out)
    graft.sources.RetrievalIndex.build(docs(s, dir), "doc_id", "text", idx)
    val qdir = s"$idx/__probe_queries"
    Bm25Queries.toDF("qid", "qtext")
      .coalesce(1).write.mode("overwrite").parquet(qdir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("qtext",
        org.apache.spark.sql.types.StringType)))
    graft.streaming.StreamingRetrieval.probeStream(
        s.readStream.schema(schema).parquet(qdir), idx, out,
        "qid", "qtext")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    bm25Project(s.read.parquet(out))
  }

  /** Hybrid retrieval gate: reciprocal-rank fusion (Cormack et al.
    * 2009) of the BM25 lexical top-10 and the embedding-cosine top-10
    * for qids 0-2 (the vector side probes with vec_id = qid). Both
    * input rankings are engine-stable — scores rounded to 6 BEFORE
    * ranking, id-ASC tie-breaks — and the oracle replays both
    * retrievers, the 1/(60+rank) sum, and the fused top-5.
    */
  private def retrievalHybridRrfQ(s: SparkSession, dir: String): DataFrame = {
    val lex = graft.operators.TopK.topKPerKey(
      bm25Project(TextAnalysis.bm25Scores(
        docs(s, dir), "doc_id", "text", Bm25Queries)),
      Seq("qid"), "score", "doc_id", 10)
    val vec = Similarity.knnBruteForce(
        embs(s, dir).filter(col("vec_id") < 3), embs(s, dir),
        "vec_id", "embedding", k = 10)
      .select(col("query_id").as("qid"),
        col("neighbor_id").as("doc_id"), col("knn_rank").as("rk"))
    graft.operators.Retrieval.rrfFuse(
      Seq(lex.select(col("qid"), col("doc_id"), col("rk")), vec),
      "qid", "doc_id", "rk", k = 5)
  }

  /** License-tagging gate: every 11th doc gets one of seven canonical
    * license headers (an SPDX id, the MIT grant, Apache title+version,
    * GPLv3 phrasing, the BSD clause, MPL, CC) prepended — testdata is
    * license-free prose, so without the plant the oracle would be
    * vacuous. The oracle replays the plant and the two-tier CASE.
    */
  private def licenseTagQ(s: SparkSession, dir: String): DataFrame = {
    val header = when(col("doc_id") % 7 === 0,
        lit("SPDX-License-Identifier: MIT"))
      .when(col("doc_id") % 7 === 1,
        lit("Permission is hereby granted, free of charge, to any person"))
      .when(col("doc_id") % 7 === 2,
        lit("Licensed under the Apache License, Version 2.0 (the License)"))
      .when(col("doc_id") % 7 === 3,
        lit("This program is free software under the GNU General Public License version 3"))
      .when(col("doc_id") % 7 === 4,
        lit("Redistribution and use in source and binary forms, with or without modification"))
      .when(col("doc_id") % 7 === 5,
        lit("Subject to the Mozilla Public License"))
      .otherwise(lit("This work is licensed under a Creative Commons license"))
    val planted = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 11 === 0,
        concat(header, lit("\n"), col("text")))
        .otherwise(col("text")).as("text"))
    TextAnalysis.licenseTag(planted, "doc_id", "text")
  }

  /** Code-quality gate (the StarCoder structural filters): four defect
    * classes are planted — a 1200-char minified line, a base64 blob
    * run, a generator banner, and a spaces→newlines rewrite whose
    * short lines PASS the mean-line gate where the raw single-line
    * prose fails it — and every signal (line stats, alnum fraction,
    * markers, the composed keep) is replayed arithmetically.
    */
  private def codeQualityQ(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 10 === 0,
        concat(col("text"), lit("\n"),
          lit("x" * 1200)))
      .when(col("doc_id") % 10 === 1,
        regexp_replace(col("text"), " ", "\n"))
      .when(col("doc_id") % 10 === 2,
        concat(col("text"), lit("\n"), lit("QUJDRA==" * 10)))
      .when(col("doc_id") % 10 === 3,
        concat(lit("// Auto-Generated do not edit\n"), col("text")))
      .otherwise(col("text")).as("text"))
    TextAnalysis.codeQualityFlags(planted, "doc_id", "text")
      .select(col("doc_id"), col("max_line_len"),
        round(col("mean_line_len"), 6).as("mean_line_len"),
        round(col("alnum_frac"), 6).as("alnum_frac"),
        col("has_long_b64"), col("auto_generated"), col("keep"))
  }

  /** Unicode normalization gate: accents/case/spacing are injected
    * (testdata text is pure ASCII — without the suffix the oracle would
    * be vacuous), incl. a COMBINING ACUTE sequence to force the NFD
    * path. Oracle = DuckDB lower(strip_accents(nfc_normalize(...))).
    */
  private def textNormalizeQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.normalizeText(
        concat(col("text"),
          lit(" Caf\u00e9 \u00dcBER stra\u00dfe NA\u00cfVE e\u0301lan  x")))
        .as("norm_text"))

  /** Char-n-gram fingerprint gate: a CJK suffix is injected (testdata is
    * ASCII) so the code-point indexing — where Spark UTF8String and
    * DuckDB `substr`/`length` must agree on multi-byte text — is
    * actually exercised by the hash compare.
    */
  private def docCharFingerprintQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.charFingerprints(
      docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit("\u0020\u65e5\u672c\u8a9e\u306e\u30c6\u30ad\u30b9\u30c8\u78ba\u8a8d"))
          .as("text")),
      "doc_id", "text")

  private def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.pack(docs(s, dir), "doc_id", "text", "text")
      .select(col("doc_id"),
        col("meta").getField("kind").as("kind"),
        col("meta").getField("byte_len").as("byte_len"),
        col("meta").getField("header_hex").as("header_hex"))

  // ---- shared constructed-payload hex builders ----------------------
  // Each single-format gate and the mixed-media describe gate must
  // build BYTE-IDENTICAL payloads, so every container layout lives here
  // exactly once — an inlined copy could silently desynchronize a gate
  // from its oracle twin.
  private def hxB(c: Column, pad: Int): Column = lpad(hex(c), pad, "0")
  private def hx2le(c: Column): Column =
    concat(substring(hxB(c, 4), 3, 2), substring(hxB(c, 4), 1, 2))
  private def hx4le(c: Column): Column =
    concat(substring(hxB(c, 8), 7, 2), substring(hxB(c, 8), 5, 2),
      substring(hxB(c, 8), 3, 2), substring(hxB(c, 8), 1, 2))

  private def pngHexFor(w: Column, h: Column): Column =
    concat(lit("89504E470D0A1A0A0000000D49484452"),
      hxB(w, 8), hxB(h, 8), lit("0806000000"))

  private def wavHexFor(ch: Column, rate: Column, nf: Column): Column = {
    val ba = (ch * 2).cast("int")
    val dataSize = (nf * ba).cast("int")
    concat(
      lit("52494646"), hx4le((lit(36) + dataSize).cast("int")),
      lit("57415645666D7420100000000100"), hx2le(ch),
      hx4le(rate), hx4le((rate * ba).cast("int")),
      hx2le(ba), lit("100064617461"), hx4le(dataSize))
  }

  /** tag/audio lengths are passed as column NAMES — the repeat() padding
    * needs SQL-expression references. The decoder verifies a second
    * sync word at the first frame boundary (r10 crawl-grade sniffing),
    * so when the audio region extends past one frame the next frame
    * header (or however many of its leading bytes fit) is laid down at
    * frameSize — pure byte-content change, every declared length and
    * the frame-count arithmetic the oracle recomputes stay identical.
    */
  private def mp3HexFor(brIdx: Column, rateIdx: Column, mode: Column,
      tagLenCol: String, audioLenCol: String): Column = {
    val b2 = hxB(shiftleft(brIdx, 4) + shiftleft(rateIdx, 2), 2)
    val b3 = hxB(shiftleft(mode, 6), 2)
    val hdr = concat(lit("FFFB"), b2, b3)
    val br = element_at(array(Seq(32, 40, 48, 56, 64, 80, 96, 112, 128,
      160, 192, 224, 256, 320).map(lit): _*), brIdx.cast("int"))
    val rate = element_at(array(lit(44100), lit(48000), lit(32000)),
      (rateIdx + 1).cast("int"))
    val fs = floor(lit(144000) * br / rate).cast("int")
    val audioLen = col(audioLenCol)
    val zeros = (n: Column) => repeat(lit("00"), greatest(n, lit(0)))
    // bytes of the second header that fit: 4 when a full next header
    // fits, 1-3 when the payload ends mid-header, none inside frame 1
    val sync2 = least(audioLen - fs, lit(4))
    val audioHex = when(audioLen <= fs, concat(hdr, zeros(audioLen - 4)))
      .otherwise(concat(hdr, zeros(fs - 4),
        hdr.substr(lit(1), sync2 * 2), zeros(audioLen - fs - 4)))
    concat(
      lit("494433" + "0300" + "00" + "000000"), hxB(col(tagLenCol), 2),
      expr(s"repeat('00', $tagLenCol)"), audioHex)
  }

  private def mp4HexFor(ts: Column, dur: Column, w: Column, h: Column): Column = {
    // tkhd v0: v/flags, ctime, mtime, track 1, reserved, duration,
    // reserved x8, layer/alt/volume/reserved, unity matrix, 16.16 dims
    val tkhdHex = concat(
      lit("0000005C746B6864" + "00000000" + "00000000" + "00000000" +
        "00000001" + "00000000" + "00000000" + "0000000000000000" +
        "0000000000000000" +
        "000100000000000000000000000000000001000000000000000000000000000040000000"),
      hxB(w, 4), lit("0000"), hxB(h, 4), lit("0000"))
    concat(
      lit("000000106674797069736F6D00000200"),
      lit("000000886D6F6F76"),
      lit("0000001C6D766864"),
      lit("000000000000000000000000"),
      hxB(ts, 8), hxB(dur, 8),
      lit("000000647472616B"), tkhdHex)
  }

  private def webmHexFor(di: Column, dt: Column, w: Column, h: Column): Column = {
    val durHex = when(di === 0, lit("44800000"))
      .when(di === 1, lit("45000000"))
      .when(di === 2, lit("45800000"))
      .otherwise(lit("46000000"))
    val ebmlHdr = when(dt === 1,
        lit("1A45DFA3" + "8B" + "4282" + "88" + "6D6174726F736B61"))
      .otherwise(lit("1A45DFA3" + "87" + "4282" + "84" + "7765626D"))
    concat(ebmlHdr, lit("18538067" + "A4"),
      lit("1549A966" + "8E" + "2AD7B1" + "83" + "0F4240" + "4489" + "84"),
      durHex,
      lit("1654AE6B" + "8C" + "AE" + "8A" + "E0" + "88" + "B0" + "82"),
      hxB(w, 4), lit("BA82"), hxB(h, 4))
  }

  /** Real container-header decode roundtrip: per-doc image payloads are
    * CONSTRUCTED byte-for-byte (PNG / JPEG+APP0 / GIF, dims derived from
    * doc_id; every 4th doc truncated garbage) and then PARSED back by the
    * native header expression — the oracle recomputes the expected dims
    * arithmetically, so a parse that misreads any byte hash-mismatches.
    */
  private def multimodalDecodeQ(s: SparkSession, dir: String): DataFrame = {
    def hex2be(c: Column) = hxB(c, 4)
    val d = docs(s, dir).select(col("doc_id"),
      (lit(1) + col("doc_id") % 2048).cast("int").as("w"),
      (lit(1) + (col("doc_id") * 7) % 2048).cast("int").as("h"),
      (col("doc_id") % 4).cast("int").as("m"))
    val pngHex = pngHexFor(col("w"), col("h"))
    val jpegHex = concat(
      lit("FFD8FFE000104A46494600010100000100010000FFC0001108"),
      hex2be(col("h")), hex2be(col("w")), lit("03011100021101031101"))
    val gifHex = concat(lit("474946383961"),
      hx2le(col("w")), hx2le(col("h")), lit("000000"))
    val payload = unhex(
      when(col("m") === 0, pngHex).when(col("m") === 1, jpegHex)
        .when(col("m") === 2, gifHex).otherwise(lit("89504E47")))
    Multimodal.decodeImage(
      d.select(col("doc_id"), payload.as("payload")), "doc_id")
  }

  /** Audio header decode roundtrip: per-doc WAV payloads are CONSTRUCTED
    * byte-for-byte (RIFF/fmt/data, params derived from doc_id; every 4th
    * doc garbage bytes) and PARSED back by the native header expression;
    * the oracle recomputes the expected stream params arithmetically.
    * FLAC parsing is spec-covered (handcrafted STREAMINFO bytes).
    */
  private def multimodalAudioQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
      (lit(1) + col("doc_id") % 2).cast("int").as("ch"),
      (lit(8000) * (lit(1) + col("doc_id") % 5)).cast("int").as("rate"),
      (lit(100) + col("doc_id") % 900).cast("long").as("nf"),
      (col("doc_id") % 4).cast("int").as("m"))
    val payload = unhex(
      when(col("m") === 3, lit("4641524247"))
        .otherwise(wavHexFor(col("ch"), col("rate"), col("nf"))))
    Multimodal.decodeAudio(
      d.select(col("doc_id"), payload.as("payload")), "doc_id")
  }

  /** Video (MP4) header decode roundtrip: ftyp + moov/mvhd v0 boxes
    * constructed from doc_id, parsed back natively; every 4th doc
    * garbage. v1 (64-bit) mvhd and box-walk edge cases are spec-covered.
    */
  private def multimodalVideoQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
      (lit(1000) * (lit(1) + col("doc_id") % 4)).cast("int").as("ts"),
      (lit(1000) + col("doc_id") % 9000).cast("int").as("dur"),
      (lit(16) * (lit(1) + col("doc_id") % 120)).cast("int").as("w"),
      (lit(16) * (lit(1) + (col("doc_id") * 7) % 120)).cast("int").as("h"),
      (col("doc_id") % 4).cast("int").as("m"))
    val payload = unhex(
      when(col("m") === 3, lit("4641524247"))
        .otherwise(mp4HexFor(col("ts"), col("dur"), col("w"), col("h"))))
    Multimodal.decodeVideo(
      d.select(col("doc_id"), payload.as("payload")), "doc_id")
  }

  /** Multimodal payload near-dup: payload FAMILIES are constructed
    * byte-for-byte (base = 64 bytes of repeated family-md5; in-family
    * variants append 8 metadata bytes, prepend a 2-byte container
    * prefix, or trim the last 6 bytes — the re-encode/re-host mutations
    * payload near-dup exists to catch; every 5th doc is an unrelated
    * singleton) and paired by byte-shingle MinHash-LSH
    * ([[Multimodal.nearDupPairs]]). The oracle re-derives the identical
    * byte shingles as hex substrings and replays the full
    * minhash/band/join pipeline in SQL, so any drift in shingling,
    * hashing, banding, or the join hash-mismatches.
    */
  /** Shared payload-family construction for the byte-shingle near-dup
    * gates (base = repeated family md5; variants append metadata,
    * prepend a prefix, trim a trailer; every 5th doc unrelated) — both
    * gates and their oracle twins must see byte-identical payloads.
    */
  private def neardupPayloads(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
      (col("doc_id") / 5).cast("long").as("fam"),
      (col("doc_id") % 5).cast("int").as("m"))
    val base = repeat(md5(
      concat(lit("fam"), col("fam").cast("string")).cast("binary")), 4)
    val soloHex = repeat(md5(
      concat(lit("solo"), col("doc_id").cast("string")).cast("binary")), 4)
    val payloadHex = when(col("m") === 0, base)
      .when(col("m") === 1, concat(base, lit("deadbeef00112233")))
      .when(col("m") === 2, concat(lit("cafe"), base))
      .when(col("m") === 3, substring(base, 1, 116))
      .otherwise(soloHex)
    d.select(col("doc_id"), unhex(payloadHex).as("payload"))
  }

  /** Media curation gate over the constructed near-dup payload families:
    * the 58-byte truncated variant falls to the size gate, then each
    * family's surviving variants collapse to their smallest id by
    * byte-shingle bucket ownership. The payloads are md5-derived bytes —
    * undecodable by construction — so the metadata row is byte_len +
    * null kind/format, which the oracle states literally; the decodable
    * branches of describe are gated by `multimodal_describe`.
    */
  private def curateMediaQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pipeline.curateMedia(
      neardupPayloads(s, dir), "doc_id", "payload", minBytes = 60)

  private def multimodalNeardupQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.nearDupPairs(neardupPayloads(s, dir), "doc_id", "payload",
      byteN = 8, numHashes = 16, bands = 8)

  /** Verified payload near-dup: the same constructed families, with the
    * exact byte-shingle Jaccard dispose stage
    * ([[Multimodal.nearDupPairsVerified]]); the oracle extends the
    * band-join replay with the list-intersection Jaccard.
    */
  private def multimodalNeardupVerifiedQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.nearDupPairsVerified(neardupPayloads(s, dir), "doc_id",
      "payload", byteN = 8, numHashes = 16, bands = 8, threshold = 0.5)

  /** MP3 header decode roundtrip: per-doc payloads are CONSTRUCTED
    * byte-for-byte — ID3v2 tag (syncsafe size, doc-dependent padding) +
    * MPEG-1 Layer III frame header (bitrate/rate/mode indices from
    * doc_id) + doc-dependent audio bytes; every 5th doc garbage. The
    * oracle recomputes channels/rate/CBR frame estimate arithmetically
    * from the same indices and tables.
    */
  private def multimodalMp3Q(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
      (lit(1) + col("doc_id") % 14).cast("int").as("br_idx"),
      (col("doc_id") % 3).cast("int").as("rate_idx"),
      (col("doc_id") % 4).cast("int").as("mode"),
      (col("doc_id") % 100).cast("int").as("tag_len"),
      (lit(100) + col("doc_id") % 900).cast("int").as("audio_len"),
      (col("doc_id") % 5).cast("int").as("m"))
    val payload = unhex(
      when(col("m") === 4, lit("4641524247"))
        .otherwise(mp3HexFor(col("br_idx"), col("rate_idx"), col("mode"),
          "tag_len", "audio_len")))
    Multimodal.decodeAudio(
      d.select(col("doc_id"), payload.as("payload")), "doc_id")
  }

  /** WebM/Matroska (EBML) header decode roundtrip: EBML header with a
    * doc-dependent DocType, Segment with Info (TimecodeScale + float32
    * Duration — power-of-two tick values so the IEEE bits are a 4-way
    * CASE in both engines) and Tracks→TrackEntry→Video pixel dims;
    * every 5th doc garbage. The oracle recomputes everything
    * arithmetically.
    */
  private def multimodalWebmQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
      (lit(16) * (lit(1) + col("doc_id") % 100)).cast("int").as("w"),
      (lit(16) * (lit(1) + (col("doc_id") * 3) % 100)).cast("int").as("h"),
      (col("doc_id") % 4).cast("int").as("di"),
      (col("doc_id") % 3).cast("int").as("dt"),
      (col("doc_id") % 5).cast("int").as("m"))
    val payload = unhex(
      when(col("m") === 4, lit("4641524247"))
        .otherwise(webmHexFor(col("di"), col("dt"), col("w"), col("h"))))
    Multimodal.decodeWebm(
      d.select(col("doc_id"), payload.as("payload")), "doc_id")
  }

  /** Unified media dispatch over a MIXED payload column — the realistic
    * crawl shape: per doc_id % 6 the payload is a constructed PNG, WAV,
    * MP3, MP4, WebM, or garbage (each construction identical to its
    * single-format gate), and [[Multimodal.describe]] must identify the
    * kind and decode the right fields into the normalized schema; the
    * oracle merges the per-format arithmetic expectations with one CASE.
    */
  /** Mixed-media payload construction for the describe gates (batch AND
    * streaming — everything derives from doc_id, so the same projection
    * applies to a stream unchanged).
    */
  private def describePayloads(docsDf: DataFrame): DataFrame = {
    val d = docsDf.select(col("doc_id"),
      (col("doc_id") % 6).cast("int").as("m6"),
      (lit(1) + col("doc_id") % 2048).cast("int").as("iw"),
      (lit(1) + (col("doc_id") * 7) % 2048).cast("int").as("ih"),
      (lit(1) + col("doc_id") % 2).cast("int").as("ch"),
      (lit(8000) * (lit(1) + col("doc_id") % 5)).cast("int").as("rate"),
      (lit(100) + col("doc_id") % 900).cast("long").as("nf"),
      (lit(1) + col("doc_id") % 14).cast("int").as("br_idx"),
      (col("doc_id") % 3).cast("int").as("rate_idx"),
      (col("doc_id") % 4).cast("int").as("mode"),
      (col("doc_id") % 100).cast("int").as("tag_len"),
      (lit(100) + col("doc_id") % 900).cast("int").as("audio_len"),
      (lit(1000) * (lit(1) + col("doc_id") % 4)).cast("int").as("ts"),
      (lit(1000) + col("doc_id") % 9000).cast("int").as("dur"),
      (lit(16) * (lit(1) + col("doc_id") % 120)).cast("int").as("vw"),
      (lit(16) * (lit(1) + (col("doc_id") * 7) % 120)).cast("int").as("vh"),
      (lit(16) * (lit(1) + col("doc_id") % 100)).cast("int").as("ww"),
      (lit(16) * (lit(1) + (col("doc_id") * 3) % 100)).cast("int").as("wh"),
      (col("doc_id") % 4).cast("int").as("di"),
      (col("doc_id") % 3).cast("int").as("dt"))
    val payload = unhex(
      when(col("m6") === 0, pngHexFor(col("iw"), col("ih")))
        .when(col("m6") === 1,
          wavHexFor(col("ch"), col("rate"), col("nf")))
        .when(col("m6") === 2,
          mp3HexFor(col("br_idx"), col("rate_idx"), col("mode"),
            "tag_len", "audio_len"))
        .when(col("m6") === 3,
          mp4HexFor(col("ts"), col("dur"), col("vw"), col("vh")))
        .when(col("m6") === 4,
          webmHexFor(col("di"), col("dt"), col("ww"), col("wh")))
        .otherwise(lit("4641524247")))
    d.select(col("doc_id"), payload.as("payload"))
  }

  private def multimodalDescribeQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.describe(describePayloads(docs(s, dir)), "doc_id")

  /** Streaming multimodal dispatch, gated against the batch oracle: the
    * whole describe chain is stateless per-row header decoding, so
    * applied to a stream unchanged it emits exactly the batch metadata
    * — ingest-time media triage needs no second implementation (the
    * same argument as streaming_quality).
    */
  /** The documents table as a stream — the ONE definition of its
    * source schema (streams require an explicit schema; four gates
    * previously each carried an identical copy).
    */
  private def embStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    s.readStream.schema(schema).parquet(s"$dir/{embeddings.parquet}")
  }

  private def docStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    s.readStream.schema(schema).parquet(s"$dir/{documents.parquet}")
  }

  private def streamingMultimodalQ(s: SparkSession, dir: String): DataFrame =
    runStreamToTable(s,
      Multimodal.describe(describePayloads(docStream(s, dir)), "doc_id"),
      "stream_multimodal")

  /** Constructed 9×8 24bpp BMP payload (hex) for the dHash gates:
    * family members (m 0..3) share a multiplicative gray pattern with a
    * one-pixel perturbation (hamming ≤ 1 between members); every 5th
    * doc an unrelated pattern. 9×8 exactly matches the dHash sample
    * grid, so nearest-neighbor sampling is the identity and the oracle
    * recomputes every gradient bit arithmetically.
    */
  private def dhashPayloadHex(fam: Column, m: Column, docId: Column): Column = {
    val hdr = "424D" + "16010000" + "00000000" + "36000000" +
      "28000000" + "09000000" + "08000000" + "0100" + "1800" +
      "00000000" + "E0000000" + "00000000" * 4
    def gFam(x: Column, y: Column): Column =
      pmod((fam + 1) * (x * 13 + y * 31 + 7) +
        when(x === 0 && y === 0, m * 3).otherwise(0), lit(256))
    def gSolo(x: Column, y: Column): Column =
      pmod((docId + 3) * (x * 11 + y * 17 + 5), lit(256))
    def bmp(gv: (Column, Column) => Column): Column = {
      val rows = (0 until 8).map { r =>
        val y = lit(7 - r) // rows stored bottom-up
        concat(array_join(transform(sequence(lit(0), lit(8)),
          x => repeat(lpad(hex(gv(x, y)), 2, "0"), 3)), ""), lit("00"))
      }
      concat((lit(hdr) +: rows): _*)
    }
    when(m === 4, bmp(gSolo)).otherwise(bmp(gFam))
  }

  /** Fixture-payload source switch. CORRECTNESS gates always build
    * payloads IN-PLAN (the encode is deliberately load-bearing so the
    * oracle proves the decode); the BENCH would otherwise price the
    * per-row fixture FDCT/Huffman/deflate ENCODE instead of the
    * operator — r16's top bench slots were measurement artifacts that
    * masked decode regressions. [[graft.Bench]] (and only it) sets the
    * `graft.fixture.dir` system property: the payload frame is then
    * materialized ONCE per (gate, sf) to parquet and the timed region
    * prices decode + join. Rep 1 pays the materialize; min-of-reps
    * drops it.
    */
  private def fixturized(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    sys.props.get("graft.fixture.dir") match {
      case Some(fd) =>
        val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val path = s"$fd/${name}_$key"
        SparkEntry.synchronized {
          val hp = new org.apache.hadoop.fs.Path(path)
          val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (!fs.exists(hp)) build.write.mode("overwrite").parquet(path)
        }
        s.read.parquet(path)
      case None => build
    }

  private def dhashPayloads(s: SparkSession, dir: String): DataFrame =
    fixturized(s, dir, "bmp") {
      val d = docs(s, dir).select(col("doc_id"),
        (col("doc_id") / 5).cast("long").as("fam"),
        (col("doc_id") % 5).cast("long").as("m"))
      d.select(col("doc_id"),
        unhex(dhashPayloadHex(col("fam"), col("m"), col("doc_id")))
          .as("payload"))
    }

  /** Perceptual dHash bit-exactness gate: the native BMP pixel walk +
    * grid sample + gradient bits vs the oracle's pure-arithmetic
    * re-derivation — any misread byte, wrong stride, or flipped
    * bottom-up row order mismatches the 64-bit value.
    */
  private def multimodalDhashQ(s: SparkSession, dir: String): DataFrame =
    dhashPayloads(s, dir).select(col("doc_id"),
      graft.functions.ImageFunctions.dhash(col("payload")).as("dhash"))

  /** dHash band-join near-dup gate ([[Multimodal.perceptualDupPairs]]):
    * family members differ by ≤ 1 gradient bit, so the 4×16-bit band
    * join must pair them (pigeonhole); the oracle replays the banding
    * and hamming arithmetic.
    */
  private def multimodalDhashPairsQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.perceptualDupPairs(dhashPayloads(s, dir), "doc_id")

  /** The dHash fixture gray formula as a column over `(fam, m,
    * doc_id)` — ONE definition shared by the BMP, PNG and JPEG fixture
    * builders, so all three containers carry the same picture and the
    * `dkDhash` oracle arithmetic replays every container's hash.
    */
  private def codecGray(x: Column, y: Column): Column =
    when(col("m") === 4,
      pmod((col("doc_id") + 3) * (x * 11 + y * 17 + 5), lit(256)))
      .otherwise(pmod((col("fam") + 1) * (x * 13 + y * 31 + 7) +
        when(x === 0 && y === 0, col("m") * 3).otherwise(0), lit(256)))

  private def codecDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      (col("doc_id") / 5).cast("long").as("fam"),
      (col("doc_id") % 5).cast("long").as("m"))

  /** 9×8 grayscale PNG of the fixture picture, REALLY deflated
    * in-plan ([[graft.functions.PngEncodeExpr]]) and really
    * inflated + unfiltered by the decode side of the dHash.
    * `interlaced = true` emits the Adam7 wire layout of the SAME
    * picture (9×8 exercises every pass, partial edge columns
    * included), so the formula oracle stays container-blind while the
    * decode side proves real deinterlacing.
    */
  private def pngPayload(deflateMode: Int,
      interlaced: Boolean = false): Column = {
    val gray = transform(sequence(lit(0), lit(71)), i =>
      codecGray(i % 9, floor(i / 9).cast("int")).cast("int"))
    graft.functions.ImageFunctions.pngEncode(gray, 9, 8, deflateMode,
      interlaced)
  }

  /** 72×64 block-constant baseline JPEG of the fixture picture: 8×8
    * block (bx, by) holds constant `codecGray(bx, by)`, so with the
    * all-8s quant table the decode is bit-exact AND the dHash grid
    * point (8x, 8y) lands inside block (x, y) — the hash equals the
    * 9×8 BMP/PNG fixtures' hash by construction.
    */
  private def jpegPayload(color: Boolean, subsample: Boolean,
      dri: Int): Column = {
    val gray = transform(sequence(lit(0), lit(4607)), i =>
      codecGray(floor((i % 72) / 8).cast("int"),
        floor(i / 576).cast("int")).cast("int"))
    graft.functions.ImageFunctions.jpegEncode(gray, 72, 64, color,
      subsample, dri)
  }

  /** The same 72×64 block-constant picture as a PROGRESSIVE (SOF2)
    * stream — multi-scan DC/AC first + refinement wire layout,
    * identical quantized coefficients, so the formula oracle holds
    * unchanged while the decode side proves the §G scan machinery.
    */
  private def jpegPayloadProgressive(color: Boolean): Column = {
    val gray = transform(sequence(lit(0), lit(4607)), i =>
      codecGray(floor((i % 72) / 8).cast("int"),
        floor(i / 576).cast("int")).cast("int"))
    graft.functions.ImageFunctions.jpegEncode(gray, 72, 64, color,
      progressive = true)
  }

  /** DCT perceptual-hash gate ([[graft.functions.PHash]]): containers
    * cycle BMP / dynamic-deflate PNG / baseline JPEG by doc — the BMP
    * and PNG are 9×8, the JPEG 72×64 block-constant, and all three
    * RESAMPLE to the identical 32×32 plane (`x·srcW/32` grid
    * arithmetic), so one container-blind oracle replays the integer
    * cosine table, both separable DCT passes, the non-DC lower
    * median, and every threshold bit — proving container AND
    * resolution invariance in the same hash match.
    */
  private def phashPayloads(s: SparkSession, dir: String): DataFrame =
    fixturized(s, dir, "phash_mix") {
      codecDocs(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          unhex(dhashPayloadHex(col("fam"), col("m"), col("doc_id"))))
        .when(pmod(col("doc_id"), lit(3)) === 1, pngPayload(2))
        .otherwise(jpegPayload(false, false, 0)).as("payload"))
    }

  private def multimodalPhashQ(s: SparkSession, dir: String): DataFrame =
    phashPayloads(s, dir).select(col("doc_id"),
      graft.functions.ImageFunctions.phash(col("payload")).as("phash"))

  /** pHash band-join near-dup gate ([[graft.operators.Multimodal
    * .perceptualDupPairsPhash]]): the mixed-container fixtures ride
    * the shared 4×16-bit band machinery; the oracle replays the DCT
    * hash, the banding, and the hamming arithmetic — cross-container
    * AND cross-resolution members pair wherever bands collide.
    */
  private def multimodalPhashPairsQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.perceptualDupPairsPhash(phashPayloads(s, dir), "doc_id")

  /** dHash through the REAL PNG decode path (inflate + row unfilter),
    * deflate block kind cycling stored/fixed/dynamic by doc — same
    * oracle as the BMP gate because the picture is the same.
    */
  private def multimodalDhashPngQ(s: SparkSession, dir: String): DataFrame =
    fixturized(s, dir, "png_mix") {
      codecDocs(s, dir).select(col("doc_id"),
        (when(pmod(col("doc_id"), lit(4)) === 0, pngPayload(0))
          .when(pmod(col("doc_id"), lit(4)) === 1, pngPayload(1))
          .when(pmod(col("doc_id"), lit(4)) === 2, pngPayload(2))
          .otherwise(pngPayload(1, interlaced = true))).as("payload"))
    }.select(col("doc_id"),
      graft.functions.ImageFunctions.dhash(col("payload")).as("dhash"))

  /** dHash through the REAL GIF decode path (LZW + 256-gray palette)
    * — same oracle again; the fourth container closes the
    * [[graft.functions.ImageHeaders]] family.
    */
  private def multimodalDhashGifQ(s: SparkSession, dir: String): DataFrame = {
    val gray = transform(sequence(lit(0), lit(71)), i =>
      codecGray(i % 9, floor(i / 9).cast("int")).cast("int"))
    fixturized(s, dir, "gif") {
      codecDocs(s, dir).select(col("doc_id"),
        graft.functions.ImageFunctions.gifEncode(gray, 9, 8)
          .as("payload"))
    }.select(col("doc_id"),
      graft.functions.ImageFunctions.dhash(col("payload")).as("dhash"))
  }

  /** dHash through the REAL baseline-JPEG decode path (Huffman +
    * dequant + IDCT), variant cycling gray / 4:4:4 color / 4:2:0
    * subsampled / restart-interval by doc.
    */
  /** Container cycle covers the whole decode envelope: gray baseline,
    * constant-chroma color, 4:2:0 subsampled, restart-interval, and
    * PROGRESSIVE (SOF2, gray and interleaved-DC color) — the planted
    * progressive near-dup fixtures whose grayscale the formula oracle
    * replays container-blind.
    */
  private def multimodalDhashJpegQ(s: SparkSession, dir: String): DataFrame =
    fixturized(s, dir, "jpeg_mix") {
      codecDocs(s, dir).select(col("doc_id"),
        (when(pmod(col("doc_id"), lit(6)) === 0,
          jpegPayload(color = false, subsample = false, dri = 0))
          .when(pmod(col("doc_id"), lit(6)) === 1,
            jpegPayload(color = true, subsample = false, dri = 0))
          .when(pmod(col("doc_id"), lit(6)) === 2,
            jpegPayload(color = false, subsample = true, dri = 0))
          .when(pmod(col("doc_id"), lit(6)) === 3,
            jpegPayload(color = false, subsample = false, dri = 3))
          .when(pmod(col("doc_id"), lit(6)) === 4,
            jpegPayloadProgressive(color = false))
          .otherwise(jpegPayloadProgressive(color = true))).as("payload"))
    }.select(col("doc_id"),
      graft.functions.ImageFunctions.dhash(col("payload")).as("dhash"))

  /** Mixed still/video fixture for the video content-near-dup gates:
    * container cycles by doc — bare baseline JPEG of the family
    * picture / single-keyframe MP4 carrying the SAME JPEG (its own
    * timescale) / two-sample MP4 whose FIRST sample is a doc-unique
    * decoy and whose `stss` marks only sample 2 (the family picture) —
    * so the keyframe walk's stsd/stsz/stsc/stco tables AND the
    * sync-sample selection are all load-bearing for the container-
    * blind dHash oracle: extracting the wrong sample, the wrong byte
    * range, or ignoring `stss` lands on the decoy (whose constant
    * plane hashes to 0) and mismatches.
    */
  private def videoFramePayloads(s: SparkSession, dir: String): DataFrame =
    fixturized(s, dir, "video_mix") {
      val famJpeg = jpegPayload(color = false, subsample = false, dri = 0)
      val decoy = graft.functions.ImageFunctions.jpegEncode(
        transform(sequence(lit(0), lit(63)),
          _ => pmod(col("doc_id") * 7 + 11, lit(256)).cast("int")),
        8, 8)
      import graft.functions.VideoFunctions.mp4Encode
      codecDocs(s, dir).select(col("doc_id"),
        (when(pmod(col("doc_id"), lit(3)) === 0, famJpeg)
          .when(pmod(col("doc_id"), lit(3)) === 1,
            mp4Encode(array(famJpeg), 72, 64, timescale = 1000,
              frameDelta = 40))
          .otherwise(
            mp4Encode(array(decoy, famJpeg), 72, 64, timescale = 90000,
              frameDelta = 3003, syncSamples = Seq(2)))).as("payload"))
    }

  /** dHash through the MP4 keyframe walk ([[Multimodal
    * .canonicalFrame]]): stills hash directly, videos hash their
    * first sync sample's REAL JPEG decode — same container-blind
    * oracle as every other dHash gate because the picture is the same.
    */
  private def multimodalVideoDhashQ(s: SparkSession, dir: String): DataFrame =
    videoFramePayloads(s, dir).select(col("doc_id"),
      graft.functions.ImageFunctions.dhash(
        Multimodal.canonicalFrame(col("payload"))).as("dhash"))

  /** Video content-level near-dup ([[Multimodal.videoDupPairs]]):
    * family members pair ACROSS containers — still↔video and
    * video↔video — through extracted keyframes, which byte-level
    * shingling can never do (the MP4s share no byte windows with the
    * bare JPEG and differ from each other in tables, timescales and
    * decoy samples). Oracle replays the banding + hamming arithmetic
    * over the picture formula.
    */
  private def multimodalVideoNeardupQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoDupPairs(videoFramePayloads(s, dir), "doc_id")

  private def wavHeaderHex(channels: Int, dataLen: Int): String = {
    def le16(v: Int) = f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X"
    def le32(v: Int) =
      f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X" +
        f"${(v >> 16) & 0xff}%02X${(v >>> 24) & 0xff}%02X"
    val rate = 8000
    val blockAlign = 2 * channels
    "52494646" + le32(36 + dataLen) + "57415645" +
      "666D7420" + le32(16) + le16(1) + le16(channels) + le32(rate) +
      le32(rate * blockAlign) + le16(blockAlign) + le16(16) +
      "64617461" + le32(dataLen)
  }

  /** Fixture PCM sample stream over `(fam, m, doc_id)`: family members
    * share a shape (period-97 ramp scaled by fam), member m=2 perturbs
    * ONE sample (+40 at t=0 — moves at most envelope bit 0), solos get
    * an unrelated period-89 shape. All values in [0, 136] so the
    * stereo downmix `(l+r)>>1` and the ×3 volume variant stay exact.
    */
  private def audioSample(t: Column): Column =
    when(col("m") === 4,
      pmod((col("doc_id") + 3) * (t * 23 + 11), lit(89)))
      .otherwise(pmod((col("fam") + 1) * (t * 17 + 7), lit(97)) +
        when(col("m") === 2 && t === 0, lit(40)).otherwise(lit(0)))

  /** 650-frame 16-bit PCM WAV hex: mono / L=R stereo / ×3-volume
    * variants of the same recording. 650 = 65 windows × 10 frames, so
    * the envelope windows are equal-length and the oracle compares
    * plain sums.
    */
  private def wavHex(stereo: Boolean, volumeScale: Int): Column = {
    val n = 650
    val dataLen = n * 2 * (if (stereo) 2 else 1)
    val body = array_join(transform(sequence(lit(0), lit(n - 1)), t => {
      val v = audioSample(t) * volumeScale
      val h = concat(lpad(hex(pmod(v, lit(256))), 2, "0"),
        lpad(hex((v / 256).cast("int")), 2, "0"))
      if (stereo) concat(h, h) else h
    }), "")
    concat(lit(wavHeaderHex(if (stereo) 2 else 1, dataLen)), body)
  }

  /** Interleaved 16-bit fixture samples for the FLAC twins — the SAME
    * recording formula as [[wavHex]] (stereo duplicates L = R).
    */
  private def flacSamples(volumeScale: Int, stereo: Boolean): Column = {
    val n = 650
    transform(sequence(lit(0), lit((if (stereo) 2 * n else n) - 1)), i => {
      val t = if (stereo) floor(i / 2).cast("int") else i
      (audioSample(t) * volumeScale).cast("int")
    })
  }

  /** Audio fixture payloads: the same recording across containers AND
    * codings — mono WAV, L=R stereo WAV, perturbed WAV, a ×4-volume
    * FLAC (FIXED+Rice with REAL wasted-bits on the wire: ×4 gives the
    * block two common trailing zero bits, so the decode must undo the
    * shift AND the volume invariance to land on the base hash), and
    * the solo member as a mid/side stereo FLAC through the LPC decode
    * path. The envelope oracle stays container/volume/stereo-blind.
    */
  private def wavPayloads(s: SparkSession, dir: String): DataFrame =
    fixturized(s, dir, "audio_mix") {
      codecDocs(s, dir).select(col("doc_id"),
        when(col("m") === 3, graft.functions.AudioFunctions.flacEncode(
          flacSamples(4, stereo = false), channels = 1))
          .when(col("m") === 4, graft.functions.AudioFunctions.flacEncode(
            flacSamples(1, stereo = true), channels = 2, mode = 2,
            stereoMode = 2))
          .otherwise(unhex(
            when(col("m") === 1, wavHex(stereo = true, volumeScale = 1))
              .otherwise(wavHex(stereo = false, volumeScale = 1))))
          .as("payload"))
    }

  /** Lossy-robust recording for the MP3 envelope gates: 65 windows ×
    * 1152 samples (window = exactly one MP3 frame; 74880 = 65·1152 so
    * the envelope windows are equal-length in every container), each
    * window a period-42 integer triangle at one of three amplitude
    * levels {32, 192, 1152}. The level sequence is a REFLECTING WALK
    * on {0,1,2} — forced turns at the edges, key-dependent direction
    * in the middle — so every adjacent-window contrast is exactly one
    * 6× step: big enough that ternary-quantization noise and the
    * straddling-frame pre-echo of a loud neighbor can never flip an
    * energy-sign bit (measured ≥ 1.5 dB decoded margin across 50
    * keys), small enough that no 36× jump floods a quiet window. The
    * walk is closed-form per (key, w), generated natively per row
    * ([[graft.functions.TriWalkPcmExpr]]) and replayed by the oracle
    * as a recursive CTE. Key = fam for family members, a doc-unique
    * salt for the m=4 solo.
    *
    * Members: the same recording across LOSSY and
    * lossless containers — mono WAV, stereo L=R FLAC, mono MP3, MS
    * joint-stereo MP3 (mid/side + Huffman + filterbank all
    * load-bearing), and an MP3 solo under its own key. The envelope
    * oracle models NONE of the containers — only the source PCM
    * arithmetic — so the MP3 members land on their WAV/FLAC twins'
    * hash only through a faithful Layer III sample decode.
    */
  private def mp3Payloads(s: SparkSession, dir: String): DataFrame =
    fixturized(s, dir, "audio_mp3") {
      import graft.functions.AudioFunctions.{flacEncode, mp3Encode, triWalkPcm, wavEncode}
      // the per-doc build is ~75k samples through a real MP3/FLAC
      // encode — repartition so it parallelizes even when the source
      // parquet is a single split. The partition count is EXPLICIT:
      // a bare repartition(col) is AQE-coalescible, and the exchange
      // carries ~100 KB for ~2 CPU-minutes of downstream encode work,
      // so AQE's size heuristic folds it to one task (measured 1.4×
      // parallelism on 16 cores; 64 pinned tasks decode in seconds)
      val withKey = codecDocs(s, dir).repartition(64, col("doc_id"))
        .select(col("doc_id"), col("m"),
          when(col("m") === 4, col("doc_id") * 2L + 77L)
            .otherwise(col("fam")).as("__key"))
      withKey.select(col("doc_id"),
        when(col("m") === 0,
          wavEncode(triWalkPcm(col("__key"), stereo = false), channels = 1))
          .when(col("m") === 1,
            flacEncode(triWalkPcm(col("__key"), stereo = true), channels = 2))
          .when(col("m") === 2,
            mp3Encode(triWalkPcm(col("__key"), stereo = false), channels = 1))
          .when(col("m") === 3,
            mp3Encode(triWalkPcm(col("__key"), stereo = true), channels = 2,
              msStereo = true))
          .otherwise(
            mp3Encode(triWalkPcm(col("__key"), stereo = false), channels = 1))
          .as("payload"))
    }

  /** MP3 envelope-hash gate: WAV and FLAC members hash through the
    * lossless legs, MP3 members through the REAL Layer III decode
    * ([[graft.functions.Mp3Envelope]]) — one container-blind
    * arithmetic oracle for all five.
    */
  private def multimodalAudiohashMp3Q(s: SparkSession, dir: String): DataFrame =
    mp3Payloads(s, dir).select(col("doc_id"),
      graft.functions.AudioFunctions.audioEnvelopeHash(col("payload"))
        .as("ahash"))

  /** The large-table MP3 family: the same recording under multi-level
    * quantization (`maxLevel` 3 / 7), where the encoder's cost-ranked
    * table selection picks per-region among the carried Annex B
    * codebooks 2-12 (the r18 ternary fixtures only ever exercised
    * tables 0/1) and the decoder rides the generic tree walk +
    * requantize over multi-bit magnitudes. Members: mono WAV anchor,
    * MP3 mono at level 3, MP3 mono at level 7, MS joint-stereo MP3 at
    * level 7, and a level-7 solo under its own key. The envelope
    * oracle is VERBATIM the `multimodal_audiohash_mp3` CTE — it
    * models only the source PCM arithmetic, so the lossy members land
    * on the family hash only through a faithful multi-table decode.
    */
  private def mp3BtPayloads(s: SparkSession, dir: String): DataFrame =
    fixturized(s, dir, "audio_mp3bt") {
      import graft.functions.AudioFunctions.{mp3Encode, triWalkPcm, wavEncode}
      val withKey = codecDocs(s, dir).repartition(64, col("doc_id"))
        .select(col("doc_id"), col("m"),
          when(col("m") === 4, col("doc_id") * 2L + 77L)
            .otherwise(col("fam")).as("__key"))
      withKey.select(col("doc_id"),
        when(col("m") === 0,
          wavEncode(triWalkPcm(col("__key"), stereo = false), channels = 1))
          .when(col("m") === 1,
            mp3Encode(triWalkPcm(col("__key"), stereo = false),
              channels = 1, maxLevel = 3))
          .when(col("m") === 2,
            mp3Encode(triWalkPcm(col("__key"), stereo = false),
              channels = 1, maxLevel = 7))
          .when(col("m") === 3,
            mp3Encode(triWalkPcm(col("__key"), stereo = true), channels = 2,
              msStereo = true, maxLevel = 7))
          .otherwise(
            mp3Encode(triWalkPcm(col("__key"), stereo = false),
              channels = 1, maxLevel = 7))
          .as("payload"))
    }

  /** Large-table MP3 envelope-hash gate (see [[mp3BtPayloads]]). */
  private def multimodalAudiohashMp3BtQ(s: SparkSession, dir: String): DataFrame =
    mp3BtPayloads(s, dir).select(col("doc_id"),
      graft.functions.AudioFunctions.audioEnvelopeHash(col("payload"))
        .as("ahash"))

  /** Large-table MP3 near-dup band join: quantization-level and
    * container variants of one recording pair through the shared
    * 64-bit band machinery.
    */
  private def multimodalAudioPairsMp3BtQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioDupPairs(mp3BtPayloads(s, dir), "doc_id")

  /** The "advanced Layer III" family: intensity stereo (one signal
    * positioned per band by is_pos scalefactors — kl + kr = 1 keeps
    * the channel-mean envelope) and MIXED blocks (window-switching
    * granules whose two lowest subbands stay long while 3-window
    * short MDCTs cover the rest — split scalefactor layout, split
    * requantize, partial reorder, single alias boundary), both at
    * multi-level quantization. Members: mono WAV anchor, intensity
    * stereo, mixed-blocks mono, mixed-blocks MS stereo, and an
    * intensity solo under its own key. The oracle is VERBATIM the mp3
    * envelope CTE — only a faithful decode of these side-info shapes
    * lands the members on it.
    */
  private def mp3AdvPayloads(s: SparkSession, dir: String): DataFrame =
    fixturized(s, dir, "audio_mp3adv") {
      import graft.functions.AudioFunctions.{mp3Encode, triWalkPcm, wavEncode}
      val withKey = codecDocs(s, dir).repartition(64, col("doc_id"))
        .select(col("doc_id"), col("m"),
          when(col("m") === 4, col("doc_id") * 2L + 77L)
            .otherwise(col("fam")).as("__key"))
      withKey.select(col("doc_id"),
        when(col("m") === 0,
          wavEncode(triWalkPcm(col("__key"), stereo = false), channels = 1))
          .when(col("m") === 1,
            mp3Encode(triWalkPcm(col("__key"), stereo = true),
              channels = 2, maxLevel = 7, intensity = true))
          .when(col("m") === 2,
            mp3Encode(triWalkPcm(col("__key"), stereo = false),
              channels = 1, maxLevel = 7, mixedBlocks = true))
          .when(col("m") === 3,
            mp3Encode(triWalkPcm(col("__key"), stereo = true), channels = 2,
              msStereo = true, maxLevel = 7, mixedBlocks = true))
          .otherwise(
            mp3Encode(triWalkPcm(col("__key"), stereo = true),
              channels = 2, maxLevel = 7, intensity = true))
          .as("payload"))
    }

  /** Intensity + mixed-block envelope-hash gate ([[mp3AdvPayloads]]). */
  private def multimodalAudiohashMp3AdvQ(s: SparkSession, dir: String): DataFrame =
    mp3AdvPayloads(s, dir).select(col("doc_id"),
      graft.functions.AudioFunctions.audioEnvelopeHash(col("payload"))
        .as("ahash"))

  /** Intensity/mixed near-dup band join over the same family. */
  private def multimodalAudioPairsMp3AdvQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioDupPairs(mp3AdvPayloads(s, dir), "doc_id")

  /** MP3 near-dup band-join gate: family members pair ACROSS
    * WAV/FLAC/MP3 — lossy-to-lossless pairing byte shingles can never
    * produce.
    */
  private def multimodalAudioPairsMp3Q(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioDupPairs(mp3Payloads(s, dir), "doc_id")

  /** Composed dedup over the MP3 family: one member survives per
    * recording across its WAV/FLAC/MP3 variants (same survivor rule
    * as [[multimodalAudioDedupQ]]).
    */
  private def multimodalAudioDedupMp3Q(s: SparkSession, dir: String): DataFrame = {
    // No checkpoint pin (r19): the pair pass materializes its
    // fingerprints once behind hash64BandPairs' shuffle barrier, and
    // the survivor projection prunes the payload column away entirely
    // (the in-plan encode never runs for it), so pinning the payload
    // frame only added an extra block-manager copy of every payload —
    // measured 8.1 → 3.3 s at sf0.1 after removing it.
    val w = mp3Payloads(s, dir)
    graft.operators.Dedup.dropNearDuplicates(
      w.select(col("doc_id")), "doc_id",
      Multimodal.audioDupPairs(w, "doc_id"))
  }

  /** Perceptual AUDIO fingerprint gate: real RIFF/fmt/data parse,
    * stereo downmix, 65-window energy envelope, sign bits — against a
    * pure-arithmetic oracle that (deliberately) models NEITHER the
    * stereo repack NOR the ×3 volume change: the hash must be
    * invariant to both, so members m0/m1/m3 land on the oracle's base
    * value and m2 differs only through its perturbed first window.
    */
  private def multimodalAudiohashQ(s: SparkSession, dir: String): DataFrame =
    wavPayloads(s, dir).select(col("doc_id"),
      graft.functions.AudioFunctions.audioEnvelopeHash(col("payload"))
        .as("ahash"))

  /** Audio near-dup band-join gate ([[Multimodal.audioDupPairs]]):
    * family members — across mono/stereo/volume variants and the
    * one-sample perturbation — must pair (pigeonhole: hamming ≤ 1 over
    * 4 bands); the oracle replays banding + hamming from the
    * arithmetic envelope hashes.
    */
  private def multimodalAudioPairsQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioDupPairs(wavPayloads(s, dir), "doc_id")

  /** Composed audio-dedup gate: the perceptual audio pairs feed the
    * standard survivor rule (drop every doc appearing as the larger
    * side of a pair) — the ingest-dedup composition a media pipeline
    * runs: one recording kept per family across its mono/stereo/
    * volume/perturbation variants. The oracle derives the dropped set
    * from the arithmetic envelope hashes.
    */
  private def multimodalAudioDedupQ(s: SparkSession, dir: String): DataFrame = {
    // No checkpoint pin (r19, same reasoning as the MP3 sibling): the
    // pair pass decode-materializes behind hash64BandPairs' barrier
    // and the survivor projection prunes the payload column, so the
    // pin only copied payloads through the block manager.
    val w = wavPayloads(s, dir)
    graft.operators.Dedup.dropNearDuplicates(
      w.select(col("doc_id")), "doc_id",
      Multimodal.audioDupPairs(w, "doc_id"))
  }

  /** Derived-asset gate: decode (BMP/PNG/JPEG by doc) → nearest-resize
    * to the dHash grid's own 9×8 → re-encode as grayscale PNG, all
    * in-plan — then parse the thumbnail's header AND dHash it. The
    * resize shares the grid's sample formula, so the thumbnail's hash
    * must equal the ORIGINAL fixture's arithmetic dHash bit-for-bit:
    * decode, resample, deflate, re-inflate and the hash all load-bear
    * in one oracle row.
    */
  private def multimodalThumbnailQ(s: SparkSession, dir: String): DataFrame = {
    val payloads = fixturized(s, dir, "thumb_mix") {
      val payload =
        when(col("m") === 0,
          unhex(dhashPayloadHex(col("fam"), col("m"), col("doc_id"))))
          .when(col("m") === 1, pngPayload(0))
          .when(col("m") === 2, jpegPayload(color = true,
            subsample = false, dri = 0))
          .when(col("m") === 3, pngPayload(2))
          .otherwise(jpegPayload(color = false, subsample = true, dri = 2))
      codecDocs(s, dir).select(col("doc_id"), payload.as("payload"))
    }
    val thumb = graft.functions.ImageFunctions
      .grayThumbnail(col("payload"), 9, 8)
    payloads.select(col("doc_id"),
      graft.functions.ImageFunctions.imageDims(thumb).as("__d"),
      graft.functions.ImageFunctions.dhash(thumb).as("dhash"))
      .select(col("doc_id"), col("__d.format").as("format"),
        col("__d.width").as("width"), col("__d.height").as("height"),
        col("dhash"))
  }

  /** Exact-luma-statistics gate: the image-quality filter's numbers
    * (integer sum/sum-of-squares/min/max over the decoded plane)
    * across all three containers — 9×8 BMP/PNG planes vs 72×64 JPEG
    * planes, where every grid value covers 64 pixels, all replayed
    * arithmetically.
    */
  private def multimodalLumastatsQ(s: SparkSession, dir: String): DataFrame = {
    fixturized(s, dir, "luma_mix") {
      val payload =
        when(col("m") === 0,
          unhex(dhashPayloadHex(col("fam"), col("m"), col("doc_id"))))
          .when(col("m") === 1, pngPayload(1))
          .when(col("m") === 2, jpegPayload(color = false,
            subsample = false, dri = 0))
          .when(col("m") === 3, pngPayload(0))
          .otherwise(jpegPayload(color = true, subsample = true, dri = 0))
      codecDocs(s, dir).select(col("doc_id"), payload.as("payload"))
    }.select(col("doc_id"),
        graft.functions.ImageFunctions.grayStats(col("payload")).as("__s"))
      .select(col("doc_id"), col("__s.width").as("width"),
        col("__s.height").as("height"),
        col("__s.n_pixels").as("n_pixels"),
        col("__s.lum_sum").as("lum_sum"),
        col("__s.lum_sum_sq").as("lum_sum_sq"),
        col("__s.lum_min").as("lum_min"),
        col("__s.lum_max").as("lum_max"))
  }

  /** Cross-CONTAINER perceptual near-dup: each family member ships in
    * a different container (BMP / PNG-fixed / JPEG / PNG-dynamic;
    * solos as 4:2:0 JPEG) and the band join must still pair them —
    * the capability byte-level dedup cannot express, exercised through
    * real codecs end-to-end. Oracle: the `multimodal_dhash_pairs`
    * banding arithmetic, container-blind by construction.
    */
  private def multimodalNeardupCodecQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.perceptualDupPairs(
      fixturized(s, dir, "neardup_mix") {
        val payload =
          when(col("m") === 0,
            unhex(dhashPayloadHex(col("fam"), col("m"), col("doc_id"))))
            .when(col("m") === 1, pngPayload(1))
            .when(col("m") === 2, jpegPayload(color = false,
              subsample = false, dri = 0))
            .when(col("m") === 3, pngPayload(2))
            // the progressive family member: the SOF2 wire layout must
            // land on the same dHash as its BMP/PNG/baseline-JPEG twins
            .otherwise(jpegPayloadProgressive(color = false))
        codecDocs(s, dir).select(col("doc_id"), payload.as("payload"))
      },
      "doc_id")

  /** Decode→fan-out composition gate: frame counts derive from the
    * DECODED MP4 duration (25 fps over duration_ms), then every 10th
    * frame index fans out per doc — the plumbing a frame featurizer
    * consumes; garbage payloads decode to null duration and fan out to
    * nothing. The oracle recomputes counts arithmetically and unnests a
    * range.
    */
  private def multimodalFramesQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
      (lit(1000) * (lit(1) + col("doc_id") % 4)).cast("int").as("ts"),
      (lit(1000) + col("doc_id") % 9000).cast("int").as("dur"),
      (lit(16) * (lit(1) + col("doc_id") % 120)).cast("int").as("w"),
      (lit(16) * (lit(1) + (col("doc_id") * 7) % 120)).cast("int").as("h"),
      (col("doc_id") % 4).cast("int").as("m"))
    val payload = unhex(
      when(col("m") === 3, lit("4641524247"))
        .otherwise(mp4HexFor(col("ts"), col("dur"), col("w"), col("h"))))
    val decoded = Multimodal.decodeVideo(
      d.select(col("doc_id"), payload.as("payload")), "doc_id")
    Multimodal.sampleFramesByCount(decoded, "doc_id",
      col("duration_ms") * 25 / 1000, stride = 10)
  }

  private def eventsHourly(s: SparkSession, dir: String): DataFrame =
    Events.hourlyAgg(t(s, dir, "events"))

  /** Hourly-active-users sketch gate: per-hour HLL registers over
    * user_id with the estimator on top — oracle replays hash, bucket,
    * rank, per-hour max, and both estimator arms.
    */
  private def eventsHourlyHllQ(s: SparkSession, dir: String): DataFrame =
    Events.hourlyDistinctUsers(t(s, dir, "events"))
      .select(col("hour_id"), col("m"), col("v_zero"),
        round(col("raw_estimate"), 6).as("raw_estimate"),
        round(col("estimate"), 6).as("estimate"))

  /** Streaming twin: the register aggregation runs on the event stream
    * (Complete mode — the ONE aggregation streams allow), the estimator
    * downstream of the sink; output ≡ batch, oracle shared verbatim.
    */
  private def streamingHourlyHllQ(s: SparkSession, dir: String): DataFrame = {
    val regs = runStreamToTable(s,
      Events.streamingHourlyUserRegisters(s, s"$dir/{events.parquet}"),
      "stream_hll_hourly", mode = "complete")
    graft.operators.Sketches.hllEstimateBy(regs, Seq("hour_id"), p = 12)
      .select(col("hour_id"), col("m"), col("v_zero"),
        round(col("raw_estimate"), 6).as("raw_estimate"),
        round(col("estimate"), 6).as("estimate"))
  }

  private def eventsFunnel(s: SparkSession, dir: String): DataFrame =
    Events.funnel(t(s, dir, "events"), Seq("signup", "click", "purchase"))

  private def eventsSessionize(s: SparkSession, dir: String): DataFrame =
    Events.sessionize(t(s, dir, "events"), gapNanos = 1800L * 1000 * 1000 * 1000)

  private def eventsRetention(s: SparkSession, dir: String): DataFrame =
    Events.retention(t(s, dir, "events"), maxOffsetDays = 30)

  /** Run a streaming query to completion (AvailableNow → memory sink)
    * and return its result as a batch frame — how the streaming engine
    * gets under the same DuckDB hash gate as every batch operator.
    */
  private def runStreamToTable(
      s: SparkSession, out: DataFrame, name: String,
      mode: String = "append"): DataFrame = {
    try s.catalog.dropTempView(name) catch { case _: Throwable => () }
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name)
  }

  /** Streaming stratified sampling, gated against the BATCH sampler's
    * oracle: membership is a pure id-hash function, so the stateless
    * stream filter emits exactly the batch sample regardless of
    * micro-batching — the property that lets one quota config govern
    * both the backfill and the live ingest path.
    */
  private def streamingSampleQ(s: SparkSession, dir: String): DataFrame =
    runStreamToTable(s,
      graft.operators.Sampling.stratifiedHashSample(docStream(s, dir),
        "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.25),
        defaultFraction = 0.1),
      "stream_sample").select(col("doc_id"), col("lang"))

  /** Streaming fractional-epoch upsampling: [[upsampleEpochsQ]]'s exact
    * configuration applied to the document stream unchanged — the
    * operator is a stateless per-row generator (driver-literal CASE +
    * one explode), so the stream emits exactly the batch fan-out and
    * the gate shares `upsample_epochs`' oracle verbatim (the
    * crawl-ingest deployment: replication decided at ingest, no state).
    */
  private def streamingUpsampleQ(s: SparkSession, dir: String): DataFrame =
    runStreamToTable(s,
      graft.operators.Sampling.upsampleToEpochs(
        docStream(s, dir).select(col("doc_id"), col("source")),
        "doc_id", "source",
        epochs = Map("src0" -> 2.3, "src1" -> 0.5, "src2" -> 0.0),
        defaultEpochs = 1.0),
      "stream_upsample")

  /** Streaming WET ingestion: the [[wetRoundtripQ]] fixture files
    * parsed through [[graft.sources.Wet.readWetStream]] — the live
    * crawl-ingest entry (files land, records stream out). The parse is
    * the batch reader's exact logic over the file-source stream, so
    * the gate shares `wet_roundtrip`'s oracle verbatim.
    */
  private def streamingWetQ(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_wets_${Integer.toHexString(dir.hashCode)}"
    writeWetFixture(s, dir, base)
    runStreamToTable(s,
      graft.sources.Wet.readWetStream(s, base)
        .select(col("uri"), col("content_length"), col("text")),
      "stream_wet")
  }

  /** Streaming quality filtering, gated against the batch oracle: the
    * whole per-row TextAnalysis family is pure column expressions, so
    * applied to a stream unchanged it emits exactly the batch scores —
    * ingest-time quality gating needs no second implementation.
    */
  private def streamingQualityQ(s: SparkSession, dir: String): DataFrame =
    runStreamToTable(s,
      TextAnalysis.qualityFlags(docStream(s, dir), "doc_id", "text"),
      "stream_quality")

  /** Streaming classifier scoring: a TRAINED (frozen-weights) quality
    * model is a pure per-row expression, so scoring a stream is
    * stateless — no state store, no watermark, micro-batch-invariant
    * (the crawl-filter deployment shape: train offline, score the
    * ingest stream). Weights come from the memoized batch training;
    * the gate shares `classifier_score`'s oracle verbatim.
    */
  private def streamingClassifierQ(s: SparkSession, dir: String): DataFrame = {
    val m = trainedClassifier(s, dir)
    val planted = docStream(s, dir)
      .select(col("doc_id"), plantJunk(col("doc_id"), col("text")).as("text"))
    runStreamToTable(s,
      graft.operators.Classifier.score(planted, "doc_id", "text", m),
      "stream_classifier")
  }

  /** The composed ingest pipeline ([[graft.operators.Pipeline
    * .curateStream]]): length gate → trained-classifier quality gate →
    * exact-normalized dedup → band decontamination vs the planted %7
    * probe → split assign, on the planted classifier corpus. Gated on
    * the kept HASH set — the projection that is deterministic across
    * arrival orders (every post-dedup stage reads only the normalized
    * word sequence, which all members of a hash family share); the
    * oracle replays the same composition batchwise: classifier GD →
    * score+length filter → hash families → drop families whose
    * representative shares a probe band bucket.
    */
  private def streamingCurateQ(s: SparkSession, dir: String): DataFrame = {
    val m = trainedClassifier(s, dir)
    val planted = docStream(s, dir)
      .select(col("doc_id"), plantJunk(col("doc_id"), col("text")).as("text"))
    val probe = docs(s, dir)
      .select(col("doc_id"), plantJunk(col("doc_id"), col("text")).as("text"))
      .filter(col("doc_id") % 7 === 0)
    runStreamToTable(s,
      graft.operators.Pipeline.curateStream(planted, "doc_id", "text",
        probe = Some(probe),
        minChars = 250, maxChars = 100000,
        qualityModel = Some(m), maxQualityScore = 0.094),
      "stream_curate").select(col("text_hash"))
  }

  /** Streaming entropy-gate twin: the near-zero-entropy plant streams
    * through [[graft.operators.Pipeline.curateStream]]'s stateless
    * entropy predicate (dedup off — pure per-row stages, so the
    * surviving set is arrival-order-free and the batch oracle replays
    * verbatim).
    */
  private def streamingCurateEntropyQ(s: SparkSession, dir: String): DataFrame = {
    val planted = docStream(s, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 17 === 0, expr("repeat('aa ', 120)"))
          .otherwise(col("text")).as("text"))
    runStreamToTable(s,
      graft.operators.Pipeline.curateStream(planted, "doc_id", "text",
        entropyRange = (2.0, 10.0), exactDedup = false),
      "stream_curate_entropy").select(col("doc_id"), col("split"))
  }

  /** Streaming twin of [[curateScriptQ]]: the dominant-script label is
    * a pure per-row expression chain, so the allow-list routing runs
    * stateless inside the ingest funnel — same planted multilingual
    * rows, same latin allow-list, dedup off (corpus-wide state stays
    * batch-side). Oracle = the batch gate's minus its dedup stage.
    */
  private def streamingCurateScriptQ(s: SparkSession, dir: String): DataFrame = {
    val planted = docStream(s, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 19 === 0,
          lit("Привет мир это русский текст документа"))
          .when(col("doc_id") % 19 === 5,
            lit("日本語のテキスト mixed with ラテン and 漢字"))
          .when(col("doc_id") === 7, lit("مرحبا بالعالم"))
          .otherwise(col("text")).as("text"))
    runStreamToTable(s,
      graft.operators.Pipeline.curateStream(planted, "doc_id", "text",
        allowedScripts = Seq("latin"), exactDedup = false),
      "stream_curate_script").select(col("doc_id"), col("split"))
  }

  /** SemDeDup curate-stage gate: length gate → exact dedup → semantic
    * drop (embeddings of SURVIVORS only, fixture centroids, tau 0.3) →
    * split. At sf0.1 the embeddings table covers only the first 2000
    * doc ids, so the docs-without-vectors pass-through rule is
    * load-bearing there.
    */
  private def curateSemanticQ(s: SparkSession, dir: String): DataFrame = {
    val emb = embs(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val centroids = embs(s, dir).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    graft.operators.Pipeline.curate(
      docs(s, dir), "doc_id", "text",
      minChars = 250, maxChars = 100000,
      semanticVecs = Some(emb), semanticCentroids = Some(centroids),
      semanticTau = 0.3)
      .select(col("doc_id"), col("split"))
  }

  /** Streaming domain-gated curation: the blocklist is a stateless
    * per-row predicate, so the ingest pipeline applies the same
    * URL rules as the batch backfill ([[curateDomainsQ]]'s stage
    * order, minus the cap — which is global state and stays
    * batch-side by design). Gated on the arrival-order-free
    * projection: the surviving distinct content-hash set.
    */
  private def streamingCurateDomainsQ(s: SparkSession, dir: String): DataFrame = {
    val planted = docStream(s, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("url", syntheticUrl)
    runStreamToTable(s,
      graft.operators.Pipeline.curateStream(planted, "doc_id", "text",
        urlCol = "url", blockedHosts = Seq("site3.com", "site17.com"),
        minChars = 250, maxChars = 100000),
      "stream_curate_domains").select(col("text_hash"))
  }

  /** Streaming exact dedup, gated on the one projection that is
    * deterministic across arrival orders: the kept distinct content-hash
    * set (WHICH duplicate row survives is first-arrival-dependent).
    */
  private def streamingDedupExactQ(s: SparkSession, dir: String): DataFrame =
    runStreamToTable(s,
      // {x} glob: the stream source needs a directory/glob, not a file
      graft.streaming.StreamingDedup.exactStream(s, s"$dir/{documents.parquet}"),
      "stream_dedup_exact").select(col("text_hash"))

  /** Streaming NEAR-dup dedup, gated against the batch MinHash-LSH
    * survivor set. The corpus is staged once with a constant `ingest_ts`
    * (single event-time window, so the stream's per-window LSH state
    * sees exactly the batch corpus and bucket ownership = min doc_id —
    * the batch-expressible projection), then two far-future sentinel
    * rows advance the watermark across two micro-batches: watermark for
    * batch N is computed from batch N-1's max event time, so the first
    * sentinel batch establishes it and the second closes + emits the
    * corpus window. Sentinel windows themselves never close — filtered
    * by doc_id >= 0. Survivor set = docs owning ALL their band buckets
    * = docs with no smaller doc sharing any (band, bucket): the oracle
    * re-derives that set from the batch LSH signatures.
    */
  private def streamingDedupNearQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ckKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    val prevCk = s.conf.get(ckKey)
    val prevSp = s.conf.get(spKey)
    s.conf.set(ckKey, "false")
    // the two stateful stages each run per-partition state tasks in every
    // micro-batch (3 batches x 3 bench reps); at gate scale the state fits
    // in a handful of partitions and task overhead dominates
    s.conf.set(spKey, "8")
    try {
      val srcDir = java.nio.file.Files
        .createTempDirectory("neardup_gate").toString
      // one file per core, NOT one: the file-source stream runs one
      // task per file, so a single staged file serializes the
      // pre-shuffle shingle+MinHash pass of the whole corpus into one
      // task. Survivors are layout-independent (constant ingest_ts,
      // per-bucket claims ordered by (ingest_ts, doc_id)).
      docs(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"),
          lit("2024-01-01 00:00:00").cast("timestamp").as("ingest_ts"))
        .repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(srcDir)
      val out = graft.streaming.StreamingDedup.nearDupStream(s, srcDir,
        horizon = "10 seconds", bands = 8)
      try s.catalog.dropTempView("stream_dedup_near")
      catch { case _: Throwable => () }
      val q = out.writeStream.format("memory").queryName("stream_dedup_near")
        .outputMode("append").start()
      q.processAllAvailable()
      def sentinel(ts: String): Unit =
        Seq((-1L, s"zz sentinel $ts zz", "en", "web", 0L, ts))
          .toDF("doc_id", "text", "lang", "source", "n_chars", "ts")
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars"), col("ts").cast("timestamp").as("ingest_ts"))
          .coalesce(1).write.mode("append").parquet(srcDir)
      sentinel("2024-01-02 00:00:00")
      q.processAllAvailable()
      sentinel("2024-01-03 00:00:00")
      q.processAllAvailable()
      q.stop()
      s.table("stream_dedup_near").filter(col("doc_id") >= 0)
        .select(col("doc_id"))
    } finally {
      s.conf.set(ckKey, prevCk)
      s.conf.set(spKey, prevSp)
    }
  }

  /** Streaming PERCEPTUAL media dedup gate
    * ([[graft.streaming.StreamingDedup.perceptualDupStream]]): the
    * codec fixture payloads (BMP / PNG-stored / GIF / PNG-dynamic by
    * member — three REAL decode paths at ingest) stream through the
    * dHash band-ownership state machine; with one constant-ts window
    * the survivor set is batch-expressible — a doc survives iff no
    * SMALLER doc shares any of its four 16-bit dHash bands — and the
    * oracle replays that from the arithmetic hashes. Same
    * watermark-sentinel dance as `streaming_dedup_neardup`.
    */
  private def streamingMultimodalNeardupQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types._
    val ckKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    // multi-KB binary payload rows: the vectorized parquet reader's
    // default 4096-row batch asks for rows-per-batch x payload-size of
    // CONTIGUOUS heap per scan task (~140 MB/task at ~35 KB payloads
    // once a staged file holds >= a full batch) - a 10x-sf replica run
    // OOM-killed this gate's staged-source read exactly that way.
    // Bound the batch by row count so reader memory tracks row width
    // (guide #5 / #4.2 "lower it for very wide rows or large binary
    // cells"); restored after the gate like the other pinned confs
    val rbKey = "spark.sql.parquet.columnarReaderBatchSize"
    val prevCk = s.conf.get(ckKey)
    val prevSp = s.conf.get(spKey)
    val prevRb = s.conf.get(rbKey)
    s.conf.set(ckKey, "false")
    s.conf.set(spKey, "8")
    s.conf.set(rbKey, "256")
    try {
      val srcDir = java.nio.file.Files
        .createTempDirectory("pneardup_gate").toString
      // fixturized like every other codec gate (the bench prices the
      // DECODE at ingest, not the per-rep fixture PNG/GIF encode;
      // correctness runs still build in-plan), and staged one file per
      // core, NOT one: the file-source stream runs one task per file,
      // so a single staged file would serialize the whole corpus's
      // pixel decode into one stream task. Survivors are
      // layout-independent (constant ingest_ts, per-bucket claims
      // ordered by (ingest_ts, doc_id)).
      fixturized(s, dir, "pneardup_mix") {
        val gray9 = transform(sequence(lit(0), lit(71)), i =>
          codecGray(i % 9, floor(i / 9).cast("int")).cast("int"))
        val payload =
          when(col("m") === 1,
            graft.functions.ImageFunctions.pngEncode(gray9, 9, 8, 0))
            .when(col("m") === 2,
              graft.functions.ImageFunctions.gifEncode(gray9, 9, 8))
            .when(col("m") === 3,
              graft.functions.ImageFunctions.pngEncode(gray9, 9, 8, 2))
            .otherwise(unhex(dhashPayloadHex(col("fam"), col("m"),
              col("doc_id"))))
        codecDocs(s, dir).select(col("doc_id"), payload.as("payload"))
      }
        .select(col("doc_id"), col("payload"),
          lit("2024-01-01 00:00:00").cast("timestamp").as("ingest_ts"))
        .repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(srcDir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType),
        StructField("ingest_ts", TimestampType)))
      val out = graft.streaming.StreamingDedup.perceptualDupStream(
        s.readStream.schema(schema).parquet(srcDir),
        horizon = "10 seconds")
      try s.catalog.dropTempView("stream_pdedup_near")
      catch { case _: Throwable => () }
      val q = out.writeStream.format("memory")
        .queryName("stream_pdedup_near")
        .outputMode("append").start()
      q.processAllAvailable()
      // the sentinel must DECODE: a filtered-out (null-hash) row never
      // reaches the post-state watermark node, which then never passes
      // the window end and nothing ever emits - a 1x1 BMP rides the
      // whole pipeline and is filtered by id at the end
      val tinyBmp = "424D3A000000000000003600000028000000010000000100" +
        "000001001800" + "0" * 48 + "AABBCC00"
      def sentinel(ts: String): Unit =
        Seq((-1L, ts)).toDF("doc_id", "ts")
          .select(col("doc_id"), unhex(lit(tinyBmp)).as("payload"),
            col("ts").cast("timestamp").as("ingest_ts"))
          .coalesce(1).write.mode("append").parquet(srcDir)
      sentinel("2024-01-02 00:00:00")
      q.processAllAvailable()
      sentinel("2024-01-03 00:00:00")
      q.processAllAvailable()
      q.stop()
      s.table("stream_pdedup_near").filter(col("doc_id") >= 0)
        .select(col("doc_id"))
    } finally {
      s.conf.set(ckKey, prevCk)
      s.conf.set(spKey, prevSp)
      s.conf.set(rbKey, prevRb)
    }
  }

  /** Streaming AUDIO perceptual dedup gate
    * ([[graft.streaming.StreamingDedup.audioDupStream]]): the MP3
    * family payloads (WAV / FLAC / mono MP3 / MS MP3 / solo — the
    * full Layer III decode at ingest) stream through the
    * envelope-hash band-ownership state machine; with one constant-ts
    * window the survivor set is batch-expressible — a doc survives
    * iff no SMALLER doc shares any of its four 16-bit envelope bands
    * — and the oracle replays that from the arithmetic envelope CTE.
    * Same watermark-sentinel dance as `streaming_multimodal_neardup`;
    * the sentinel is a short WAV (the hash needs a decodable payload
    * to ride the post-state watermark).
    */
  private def streamingAudiodupMp3Q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types._
    val ckKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    // multi-KB binary payload rows: the vectorized parquet reader's
    // default 4096-row batch asks for rows-per-batch x payload-size of
    // CONTIGUOUS heap per scan task (~140 MB/task at ~35 KB payloads
    // once a staged file holds >= a full batch) - a 10x-sf replica run
    // OOM-killed this gate's staged-source read exactly that way.
    // Bound the batch by row count so reader memory tracks row width
    // (guide #5 / #4.2 "lower it for very wide rows or large binary
    // cells"); restored after the gate like the other pinned confs
    val rbKey = "spark.sql.parquet.columnarReaderBatchSize"
    val prevCk = s.conf.get(ckKey)
    val prevSp = s.conf.get(spKey)
    val prevRb = s.conf.get(rbKey)
    s.conf.set(ckKey, "false")
    s.conf.set(spKey, "8")
    s.conf.set(rbKey, "256")
    try {
      val srcDir = java.nio.file.Files
        .createTempDirectory("audiodup_gate").toString
      // one file per core, NOT one file total: the file-source stream
      // assigns one task per file, so a single-file corpus serializes
      // the pre-shuffle MP3 decode of EVERY payload into one task
      // (measured 61.7 s for this gate at sf0.1/32 cpus; 32 files make
      // the decode stage core-parallel). Survivors are file-layout-
      // independent — the band state machine orders each (band, bucket)
      // group by (ingest_ts, doc_id).
      mp3Payloads(s, dir)
        .select(col("doc_id"), col("payload"),
          lit("2024-01-01 00:00:00").cast("timestamp").as("ingest_ts"))
        .repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(srcDir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType),
        StructField("ingest_ts", TimestampType)))
      val out = graft.streaming.StreamingDedup.audioDupStream(
        s.readStream.schema(schema).parquet(srcDir),
        horizon = "10 seconds")
      try s.catalog.dropTempView("stream_audiodup")
      catch { case _: Throwable => () }
      val q = out.writeStream.format("memory")
        .queryName("stream_audiodup")
        .outputMode("append").start()
      q.processAllAvailable()
      def sentinel(ts: String): Unit =
        Seq((-1L, ts)).toDF("doc_id", "ts")
          .select(col("doc_id"),
            graft.functions.AudioFunctions.wavEncode(
              transform(sequence(lit(0), lit(129)), i => i * 7),
              channels = 1).as("payload"),
            col("ts").cast("timestamp").as("ingest_ts"))
          .coalesce(1).write.mode("append").parquet(srcDir)
      sentinel("2024-01-02 00:00:00")
      q.processAllAvailable()
      sentinel("2024-01-03 00:00:00")
      q.processAllAvailable()
      q.stop()
      s.table("stream_audiodup").filter(col("doc_id") >= 0)
        .select(col("doc_id"))
    } finally {
      s.conf.set(ckKey, prevCk)
      s.conf.set(spKey, prevSp)
      s.conf.set(rbKey, prevRb)
    }
  }

  /** Streaming VIDEO content-level dedup gate
    * ([[graft.streaming.StreamingDedup.videoDupStream]]): the mixed
    * still/MP4 fixture (bare JPEG / single-keyframe MP4 / decoy-first
    * MP4 whose `stss` marks sample 2) streams through the canonical-
    * frame projection + dHash band-ownership state machine — ingest-
    * time dedup of videos against stills of the same picture, the
    * sample-table walk load-bearing live. Constant-ts survivor rule
    * and sentinel as in `streaming_multimodal_neardup`.
    */
  private def streamingVideoNeardupQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types._
    val ckKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    // multi-KB binary payload rows: the vectorized parquet reader's
    // default 4096-row batch asks for rows-per-batch x payload-size of
    // CONTIGUOUS heap per scan task (~140 MB/task at ~35 KB payloads
    // once a staged file holds >= a full batch) - a 10x-sf replica run
    // OOM-killed this gate's staged-source read exactly that way.
    // Bound the batch by row count so reader memory tracks row width
    // (guide #5 / #4.2 "lower it for very wide rows or large binary
    // cells"); restored after the gate like the other pinned confs
    val rbKey = "spark.sql.parquet.columnarReaderBatchSize"
    val prevCk = s.conf.get(ckKey)
    val prevSp = s.conf.get(spKey)
    val prevRb = s.conf.get(rbKey)
    s.conf.set(ckKey, "false")
    s.conf.set(spKey, "8")
    s.conf.set(rbKey, "256")
    try {
      val srcDir = java.nio.file.Files
        .createTempDirectory("videodup_gate").toString
      // one file per core (see streaming_audiodup_mp3): a single-file
      // corpus would serialize the canonicalFrame+dhash decode into one
      // stream task
      videoFramePayloads(s, dir)
        .select(col("doc_id"), col("payload"),
          lit("2024-01-01 00:00:00").cast("timestamp").as("ingest_ts"))
        .repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(srcDir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType),
        StructField("ingest_ts", TimestampType)))
      val out = graft.streaming.StreamingDedup.videoDupStream(
        s.readStream.schema(schema).parquet(srcDir),
        horizon = "10 seconds")
      try s.catalog.dropTempView("stream_videodup")
      catch { case _: Throwable => () }
      val q = out.writeStream.format("memory")
        .queryName("stream_videodup")
        .outputMode("append").start()
      q.processAllAvailable()
      // the sentinel must survive canonicalFrame + dhash: a 1x1 BMP
      // falls through the keyframe walk untouched and hashes
      val tinyBmp = "424D3A000000000000003600000028000000010000000100" +
        "000001001800" + "0" * 48 + "AABBCC00"
      def sentinel(ts: String): Unit =
        Seq((-1L, ts)).toDF("doc_id", "ts")
          .select(col("doc_id"), unhex(lit(tinyBmp)).as("payload"),
            col("ts").cast("timestamp").as("ingest_ts"))
          .coalesce(1).write.mode("append").parquet(srcDir)
      sentinel("2024-01-02 00:00:00")
      q.processAllAvailable()
      sentinel("2024-01-03 00:00:00")
      q.processAllAvailable()
      q.stop()
      s.table("stream_videodup").filter(col("doc_id") >= 0)
        .select(col("doc_id"))
    } finally {
      s.conf.set(ckKey, prevCk)
      s.conf.set(spKey, prevSp)
      s.conf.set(rbKey, prevRb)
    }
  }

  /** Streaming windowed hourly aggregation, gated against the exact
    * batch oracle: Complete output mode emits every window at the final
    * AvailableNow commit (the watermark only bounds state in the
    * unbounded deployment), so the result IS the batch aggregation.
    */
  /** Streaming retention, gated against the batch oracle: each user's
    * rows from their LATEST emission (max emit_seq — earlier emissions
    * are superseded wholesale since a cohort shift re-indexes offsets)
    * are counted per (cohort_day, day_offset) cell; with the single
    * AvailableNow micro-batch the per-user state holds the user's full
    * day set, so the counts ARE the batch retention triangle.
    */
  private def streamingRetentionQ(s: SparkSession, dir: String): DataFrame = {
    val t = runStreamToTable(s,
      Events.streamingRetention(s, s"$dir/{events.parquet}",
        maxOffsetDays = 30),
      "stream_retention", mode = "update")
    // per-user max via a window (a self-join of the memory-sink view
    // trips conflicting-attribute resolution); the sink table is tiny
    t.withColumn("__mx", max(col("emit_seq")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      .filter(col("emit_seq") === col("__mx"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  private def streamingHourlyQ(s: SparkSession, dir: String): DataFrame =
    runStreamToTable(s,
      Events.streamingHourlyAgg(s, s"$dir/{events.parquet}"),
      "stream_hourly", mode = "complete")
      .select((unix_micros(col("hour_start")) / lit(3600000000L))
          .cast("long").as("hour_id"),
        col("event_type"), col("n_events"), col("value_sum"))

  /** Streaming funnel, gated against the exact batch oracle: with the
    * single AvailableNow micro-batch the per-user state step processes
    * events in timestamp order, so the emitted final state IS the batch
    * funnel. The Update-mode memory sink accumulates one progress row
    * per user PER MICRO-BATCH, so the projection folds them to the
    * final state instead of assuming a single batch: step times only
    * ever improve (decrease) and steps_reached only grows, so
    * min(times)/max(reached) per user IS the last emission even if the
    * source splits into several batches. Users that never reached step 1
    * drop out (the batch form has no such rows); step times are unpacked
    * guarded (ANSI mode: an unguarded out-of-bounds index would throw).
    */
  private def streamingFunnelQ(s: SparkSession, dir: String): DataFrame =
    runStreamToTable(s,
      Events.streamingFunnel(s, s"$dir/{events.parquet}",
        Seq("signup", "click", "purchase")),
      "stream_funnel", mode = "update")
      .filter(col("steps_reached") >= 1)
      .select(col("user_id"),
        col("step_times").getItem(0).as("t_signup"),
        when(col("steps_reached") >= 2, col("step_times").getItem(1))
          .as("t_click"),
        when(col("steps_reached") >= 3, col("step_times").getItem(2))
          .as("t_purchase"),
        col("steps_reached"))
      .groupBy(col("user_id"))
      .agg(min(col("t_signup")).as("t_signup"),
        min(col("t_click")).as("t_click"),
        min(col("t_purchase")).as("t_purchase"),
        max(col("steps_reached")).as("steps_reached"))

  /** Streaming sessionize, gated against the batch result MINUS each
    * user's last session — exactly the rows an unbounded stream has
    * CLOSED (the final session per user is still open in state when the
    * AvailableNow run ends; emitting it would be making data up).
    */
  private def streamingSessionizeQ(s: SparkSession, dir: String): DataFrame =
    runStreamToTable(s,
      Events.streamingSessionize(s, s"$dir/{events.parquet}",
        gapMicros = 1800L * 1000 * 1000),
      "stream_sessionize")
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("value_sum"))

  /** [[streamingSessionizeQ]] under the RocksDB state store provider
    * ([[graft.streaming.StateStores.withRocksDb]]): the provider swap is
    * pure configuration, so the gate proves the custom-state operator
    * emits IDENTICAL rows when its state lives off-heap — the backend a
    * 100 TB event stream requires (per-executor memory bounded by the
    * block cache, not the active-key count).
    */
  private def streamingSessionizeRocksQ(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StateStores.withRocksDb(s) {
      runStreamToTable(s,
        Events.streamingSessionize(s, s"$dir/{events.parquet}",
          gapMicros = 1800L * 1000 * 1000),
        "stream_sessionize_rocksdb")
    }.select(col("user_id"), col("session_start"), col("session_end"),
      col("n_events"), col("value_sum"))

  /** Built-in `session_window` sessionization gate: Append-mode output
    * after an AvailableNow run holds exactly the sessions whose window
    * end (last event + gap) the final watermark (global max event time
    * − delay) has passed — the oracle re-derives that set from the
    * batch sessions arithmetically.
    */
  private def streamingSessionizeWindowQ(s: SparkSession, dir: String): DataFrame =
    runStreamToTable(s,
      Events.streamingSessionizeWindow(s, s"$dir/{events.parquet}",
        gapMicros = 1800L * 1000 * 1000, delay = "30 minutes"),
      "stream_sessionize_window")

  // -------------------------------------------------------------------
  // Oracle SQL generators (mirror the Scala expressions exactly)
  // -------------------------------------------------------------------

  /** Portable 60-bit hash in DuckDB SQL (= TextFunctions.hash60). */
  /** Generated oracle CTE prefix for the classifier gates: planted
    * labels, hashed L1-normalized features (bias as bucket 64), and
    * `n` unrolled full-batch GD rounds — MATERIALIZED per round like
    * [[bpeTrainOracle]] (inlined CTEs would replicate the feature scan
    * exponentially in n).
    */
  private def classifierOracle(
      n: Int, lr: String, ngrams: Int = 1): String = {
    // ngrams = 2: adjacent pairs join the bag (w[i] || ' ' || w[i+1])
    // and the L1 denominator counts unigrams + bigrams — the exact
    // featureTokens/HashedBagScoreExpr arithmetic
    val nFeatures =
      if (ngrams == 1) "len(ws)"
      else "len(ws) + CASE WHEN len(ws) >= 2 THEN len(ws) - 1 ELSE 0 END"
    val exSelect =
      if (ngrams == 1) "SELECT doc_id, unnest(ws) AS w FROM tok"
      else """SELECT doc_id, unnest(ws) AS w FROM tok
           UNION ALL SELECT doc_id,
             unnest([ws[i] || ' ' || ws[i+1]
               for i in range(1, len(ws))]) AS w FROM tok"""
    val rounds = (1 to n).map { i =>
      s"""m$i AS MATERIALIZED (
           SELECT d.doc_id, d.y, 1/(1+exp(-s.m)) AS p
           FROM d JOIN (SELECT f.doc_id, sum(f.x * w.wt) AS m
               FROM feat f JOIN w${i - 1} w USING (bucket)
               GROUP BY f.doc_id) s USING (doc_id)),
         g$i AS MATERIALIZED (
           SELECT f.bucket, sum(f.x * (m.p - m.y)) AS g
           FROM feat f JOIN m$i m USING (doc_id) GROUP BY f.bucket),
         w$i AS MATERIALIZED (
           SELECT w.bucket,
             w.wt - $lr * COALESCE(g.g, 0) / (SELECT nd FROM nn) AS wt
           FROM w${i - 1} w LEFT JOIN g$i g USING (bucket))"""
    }.mkString(",\n         ")
    s"""WITH src AS (SELECT doc_id,
           CASE WHEN doc_id % 11 = 0
             THEN text || ' junkjunk spamspam junkjunk spamspam'
             ELSE text END AS text,
           CASE WHEN doc_id % 11 = 0 THEN 1.0 ELSE 0.0 END AS y
         FROM documents),
       tok AS (SELECT doc_id, y,
           list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             w -> len(w) > 0) AS ws
         FROM src),
       d AS MATERIALIZED (SELECT doc_id, y, $nFeatures AS n FROM tok),
       ex AS ($exSelect),
       fw AS (SELECT doc_id, ${dkHash("w")} % 64 AS bucket FROM ex),
       feat AS MATERIALIZED (
         SELECT fw.doc_id, fw.bucket,
           CAST(count(*) AS DOUBLE) / any_value(d.n) AS x
         FROM fw JOIN d USING (doc_id) GROUP BY fw.doc_id, fw.bucket
         UNION ALL SELECT doc_id, CAST(64 AS BIGINT) AS bucket, 1.0 AS x
         FROM d),
       nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM d),
       w0 AS (SELECT CAST(unnest(range(0, 65)) AS BIGINT) AS bucket,
           0.0 AS wt),
       $rounds"""
  }

  /** Shared CTE prefix for the langid gates: lowercased corpus, distinct
    * char-trigram shingles (the [[graft.functions.CharShinglesExpr]]
    * replay — short texts collapse to one whole-text shingle), per-lang
    * doc-frequency counts, deterministic top-512-per-lang cap `m`.
    */
  private def langidModelCtes: String =
    s"""WITH lt AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
       lg AS (SELECT lang, CASE WHEN length(t) >= 3
           THEN list_distinct([substr(t, CAST(i AS INTEGER), 3)
             for i in range(1, length(t) - 1)])
           ELSE [t] END AS sh FROM lt),
       le AS (SELECT lang, unnest(sh) AS gram FROM lg),
       lc AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS cnt
         FROM le GROUP BY 1, 2),
       lr AS (SELECT lang, gram, cnt,
           row_number() OVER (PARTITION BY lang
             ORDER BY cnt DESC, gram ASC) AS rk FROM lc),
       m AS (SELECT lang, gram, cnt FROM lr WHERE rk <= 512)"""

  /** The classifier scoring oracle — shared verbatim by
    * `classifier_score` (batch) and `streaming_classifier` (the
    * stateless stream twin scores the same planted corpus with the
    * same frozen weights, so the projection is identical).
    */
  private def classifierScoreOracle: String =
    s"""${classifierOracle(10, "4.0")}
         SELECT d.doc_id, 1/(1+exp(-s.m)) AS score
         FROM d JOIN (SELECT f.doc_id, sum(f.x * w.wt) AS m
             FROM feat f JOIN w10 w USING (bucket) GROUP BY f.doc_id) s
         USING (doc_id)"""

  /** The pack_materialize oracle body — shared verbatim by the
    * `pack_persist` roundtrip gate (persistence must reproduce exactly
    * the rows materialization computed, so the oracle IS the same
    * arithmetic replay plus the constant meta row).
    */
  private def packMaterializeOracle: String =
    s"""WITH ti AS (SELECT doc_id,
           list_transform(
             string_split(replace(replace(text, 'abc', chr(1)), 'ab', chr(2)), ''),
             c -> CASE WHEN c = chr(1) THEN 257
                       WHEN c = chr(2) THEN 256
                       ELSE ascii(c) END) AS ids
         FROM documents),
       d AS (SELECT doc_id, ids, len(ids) AS n,
           ${dkHash("CAST(doc_id AS VARCHAR)")} AS h FROM ti),
       b AS (SELECT *, h % 8 AS pack_bucket FROM d),
       c AS (SELECT *, CAST(COALESCE(sum(n) OVER (
           PARTITION BY pack_bucket ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
         FROM b),
       sp AS (SELECT pack_bucket, st, n, ids,
           unnest(range(st // 512, (st + n - 1) // 512 + 1)) AS p
         FROM c WHERE n > 0),
       sl AS (SELECT pack_bucket, p AS pack_id,
           greatest(st - p * 512, 0) AS pos,
           ids[CAST(greatest(p * 512 - st, 0) + 1 AS BIGINT)
             : CAST(least(n, (p + 1) * 512 - st) AS BIGINT)] AS sl
         FROM sp)
       SELECT CAST(pack_bucket AS BIGINT) AS pack_bucket,
         CAST(pack_id AS BIGINT) AS pack_id,
         CAST(sum(len(sl)) AS BIGINT) AS n_tokens,
         string_agg(array_to_string(sl, ','), ',' ORDER BY pos) AS ids_csv
       FROM sl GROUP BY 1, 2"""

  private def dkHash(x: String): String =
    s"CAST(concat('0x', substr(md5($x),1,15)) AS BIGINT)"

  /** Shared oracle for the exact-decontamination gates: whole-doc drop
    * on any shared word-13-gram with the planted probe. The Bloom gate
    * REUSES it verbatim — the filter is a transparent prefilter whose
    * false positives are always disposed by the exact confirm join, so
    * the result is exact-semantics for any filter size.
    */
  private val dkDecontaminateExact: String =
    """WITH tr AS (SELECT doc_id,
           CASE WHEN doc_id % 9 = 0
             THEN text || ' held out evaluation question about the seventeen silver llamas crossing frozen rivers quietly'
             ELSE text END AS text
         FROM documents),
       pr AS (SELECT text || ' held out evaluation question about the seventeen silver llamas crossing frozen rivers quietly' AS text
         FROM documents WHERE doc_id % 13 = 0),
       pt AS (SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS ws FROM pr),
       pg AS (SELECT DISTINCT md5(array_to_string(ws[i:i+12], ' ')) AS h
         FROM (SELECT ws, unnest(CASE WHEN len(ws) >= 13 THEN range(1, len(ws) - 11) ELSE [] END) AS i FROM pt)),
       tt AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS ws FROM tr),
       tg AS (SELECT DISTINCT doc_id, md5(array_to_string(ws[i:i+12], ' ')) AS h
         FROM (SELECT doc_id, ws, unnest(CASE WHEN len(ws) >= 13 THEN range(1, len(ws) - 11) ELSE [] END) AS i FROM tt)),
       bad AS (SELECT DISTINCT doc_id FROM tg JOIN pg USING (h))
       SELECT doc_id FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM bad)"""

  /** Shared oracle for the CCNet bucket gates: full replay of LM
    * training, per-(lang, score) cumulative fractions, and the
    * value-threshold bucket CASE. The streaming gate REUSES it — the
    * frozen-model score of the same corpus is the batch bucketing.
    */
  private val dkQualityBuckets: String =
      """WITH w AS (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
           FROM documents),
         v AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
         t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM v),
         s AS (SELECT doc_id,
             round(avg(-ln(CAST(cnt AS DOUBLE) / total)), 6) AS surprisal
           FROM w JOIN v USING (word), t GROUP BY doc_id),
         sc AS (SELECT d.doc_id, d.lang, s.surprisal
           FROM documents d JOIN s USING (doc_id)),
         c AS (SELECT lang, surprisal, count(*) AS c
           FROM sc GROUP BY 1, 2),
         cum AS (SELECT lang, surprisal,
             sum(c) OVER (PARTITION BY lang ORDER BY surprisal
               ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY lang) AS tot
           FROM c),
         b AS (SELECT lang, surprisal,
             CASE WHEN cum <= (1.0/3) * tot THEN 'head'
                  WHEN cum <= (1.0/3 + 1.0/3) * tot THEN 'middle'
                  ELSE 'tail' END AS bucket
           FROM cum)
         SELECT sc.doc_id, sc.lang, sc.surprisal, b.bucket
         FROM sc JOIN b USING (lang, surprisal)"""

  /** Shared oracle for the bottom-k sample gates: the global 50
    * smallest-hash documents with payload. The merge and streaming
    * gates REUSE it verbatim — bottom-k(A ∪ B) = bottom-k(bottom-k(A)
    * ∪ bottom-k(B)) makes the result split/batching-invariant.
    */
  /** Shared oracle for the quantile-summary gates: per-language
    * bottom-64 rows by the id-hash order (the [[dkBottomK]] ranking,
    * partitioned by group), then `quantile_cont` interpolation over the
    * sample — the same interpolation Spark's `percentile` uses.
    */
  /** Closed-form KLL selection CTEs over the documents subset `cond`,
    * suffix `sfx`: rank per lang, chunk index, highest-differing-bit
    * range lookup, offset/stride survival — ends in
    * `sel$sfx(lang, level, value)`. The exact arithmetic
    * `Sketches.kllSketchBy` derives from the derandomized cascade.
    */
  private def dkKllSel(cond: String, sfx: String, k: Int): String =
    s"""v$sfx AS (SELECT lang, n_chars AS value,
         row_number() OVER (PARTITION BY lang
           ORDER BY n_chars, doc_id) - 1 AS p,
         count(*) OVER (PARTITION BY lang) AS n
       FROM documents WHERE $cond),
     b$sfx AS (SELECT lang, value, p, n, n // $k AS bc, p // $k AS cc
       FROM v$sfx),
     h$sfx AS (SELECT lang, value, p, n, bc, cc,
         max(CASE WHEN ((xor(bc, cc) >> bb) & 1) = 1 THEN bb END) AS h
       FROM b$sfx, (SELECT unnest(range(0, 41)) AS bb)
       GROUP BY lang, value, p, n, bc, cc),
     sel$sfx AS (SELECT lang,
         CAST(CASE WHEN cc >= bc THEN 0 ELSE h + 1 END AS INTEGER)
           AS level, value
       FROM h$sfx
       WHERE cc >= bc
          OR ((p - ((bc >> CAST(h+1 AS INTEGER))
                    << CAST(h+1 AS INTEGER)) * $k)
              % (1::BIGINT << CAST(h+1 AS INTEGER))) = 0)"""

  /** The weighted compact stage over `u(lang, level, value)` — cum
    * weights, per-group ranges from the set bits of C, span/stride
    * survival with per-span position fan-out — ending in the
    * aggregated `(lang, level, value, n)` select.
    */
  private def dkKllCompactTail(k: Int): String =
    s"""uw AS (SELECT lang, level, value,
         (1::BIGINT << level) AS wt,
         CAST(coalesce(sum(1::BIGINT << level) OVER (PARTITION BY lang
           ORDER BY value, level
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cw
       FROM u),
     tot AS (SELECT lang, CAST(sum(1::BIGINT << level) AS BIGINT) AS n
       FROM u GROUP BY 1),
     rg AS (
       SELECT lang,
         ((bc >> CAST(hh+1 AS INTEGER)) << CAST(hh+1 AS INTEGER)) * $k
           AS rstart,
         (1::BIGINT << CAST(hh AS INTEGER)) * $k AS rlen,
         1::BIGINT << CAST(hh+1 AS INTEGER) AS rstride,
         CAST(hh + 1 AS INTEGER) AS rlvl
       FROM (SELECT lang, n // $k AS bc FROM tot),
            (SELECT unnest(range(0, 41)) AS hh)
       WHERE ((bc >> CAST(hh AS INTEGER)) & 1) = 1
       UNION ALL
       SELECT lang, (n // $k) * $k, n % $k, 1::BIGINT, 0
       FROM tot WHERE n % $k > 0),
     j AS (SELECT uw.lang, rg.rlvl AS level, uw.value,
         rg.rstart + (((greatest(uw.cw, rg.rstart) - rg.rstart)
           + rg.rstride - 1) // rg.rstride) * rg.rstride AS fi,
         least(uw.cw + uw.wt, rg.rstart + rg.rlen) AS hi,
         rg.rstride AS sd
       FROM uw JOIN rg ON uw.lang IS NOT DISTINCT FROM rg.lang
       WHERE uw.cw < rg.rstart + rg.rlen
         AND uw.cw + uw.wt > rg.rstart),
     x AS (SELECT lang, level, value,
         unnest(generate_series(fi, hi - 1, sd)) AS pp
       FROM j WHERE fi < hi)
     SELECT lang, level, value, count(*) AS n FROM x GROUP BY 1, 2, 3"""

  /** Two-stage sharded replay: per-(lang, salt) closed-form selection
    * feeding the weighted compact tail.
    */
  private def dkKllSharded(shards: Int, k: Int): String =
    s"""WITH s0 AS (SELECT lang, n_chars AS value, doc_id,
         ${dkHash("CAST(doc_id AS VARCHAR)")} % $shards AS salt
       FROM documents),
       v0 AS (SELECT lang, salt, value,
         row_number() OVER (PARTITION BY lang, salt
           ORDER BY value, doc_id) - 1 AS p,
         count(*) OVER (PARTITION BY lang, salt) AS n
       FROM s0),
       b0 AS (SELECT lang, salt, value, p, n, n // $k AS bc, p // $k AS cc
         FROM v0),
       h0 AS (SELECT lang, salt, value, p, n, bc, cc,
           max(CASE WHEN ((xor(bc, cc) >> bb) & 1) = 1 THEN bb END) AS h
         FROM b0, (SELECT unnest(range(0, 41)) AS bb)
         GROUP BY lang, salt, value, p, n, bc, cc),
       u AS (SELECT lang,
           CAST(CASE WHEN cc >= bc THEN 0 ELSE h + 1 END AS INTEGER)
             AS level, value
         FROM h0
         WHERE cc >= bc
            OR ((p - ((bc >> CAST(h+1 AS INTEGER))
                      << CAST(h+1 AS INTEGER)) * $k)
                % (1::BIGINT << CAST(h+1 AS INTEGER))) = 0),
       ${dkKllCompactTail(k)}"""

  private def dkKllBuild(k: Int): String =
    s"""WITH ${dkKllSel("TRUE", "0", k)}
       SELECT lang, level, value, count(*) AS n
       FROM sel0 GROUP BY 1, 2, 3"""

  private def dkKllMerge(condA: String, condB: String, k: Int): String =
    s"""WITH ${dkKllSel(condA, "a", k)},
       ${dkKllSel(condB, "b", k)},
       u AS (SELECT * FROM sela UNION ALL SELECT * FROM selb),
       ${dkKllCompactTail(k)}"""

  private def dkKllEstimate(k: Int): String =
    s"""WITH ${dkKllSel("TRUE", "0", k)},
       cw AS (SELECT lang, level, value,
           CAST(sum(1::BIGINT << level) OVER (PARTITION BY lang
             ORDER BY value, level
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS c,
           CAST(sum(1::BIGINT << level) OVER (PARTITION BY lang)
             AS BIGINT) AS n
         FROM sel0)
       SELECT lang,
         min(CASE WHEN c * 4 >= n THEN value END) AS p25,
         min(CASE WHEN c * 2 >= n THEN value END) AS p50,
         min(CASE WHEN c * 4 >= n * 3 THEN value END) AS p75,
         max(n) AS n_total
       FROM cw GROUP BY 1"""

  private val dkQuantileSketch: String =
    s"""WITH h AS (SELECT lang, n_chars,
           ${dkHash("CAST(doc_id AS VARCHAR)")} AS hh FROM documents),
       r AS (SELECT lang, n_chars, row_number() OVER (PARTITION BY lang
           ORDER BY hh % 4503599627370496, hh) AS rk FROM h),
       sm AS (SELECT lang, n_chars FROM r WHERE rk <= 64)
       SELECT lang, round(quantile_cont(n_chars, 0.25), 6) AS p25,
         round(quantile_cont(n_chars, 0.5), 6) AS p50,
         round(quantile_cont(n_chars, 0.75), 6) AS p75,
         count(*) AS n_sample
       FROM sm GROUP BY 1"""

  /** Z-order oracle: global min/max scaling of both lanes to 16 bits
    * (exact integer arithmetic — see [[graft.sources.Tables
    * .zorderScale]]'s exactness bound) and the 32-term Morton bit
    * interleave, generated term-by-term so Spark and DuckDB can only
    * agree by construction.
    */
  private val dkZorder: String = {
    val terms = (for {
      (lane, i) <- Seq("sx", "sy").zipWithIndex
      b <- 0 until 16
    } yield s"((($lane >> $b) & 1) << ${b * 2 + i})").mkString(" | ")
    s"""WITH st AS (SELECT min(l_orderkey) AS mno, max(l_orderkey) AS mxo,
           min(CAST(l_partkey AS BIGINT)) AS mnp,
           max(CAST(l_partkey AS BIGINT)) AS mxp FROM lineitem),
       sc AS (SELECT l_orderkey, l_linenumber,
           ((l_orderkey - mno) * 65535) // greatest(1, mxo - mno) AS sx,
           ((CAST(l_partkey AS BIGINT) - mnp) * 65535)
             // greatest(1, mxp - mnp) AS sy
         FROM lineitem, st)
       SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS zval
       FROM sc"""
  }

  /** Shared by the release gates: per-shard stats with the XOR doc
    * checksum, recomputed over the whole corpus.
    */
  private def dkReleaseManifestWhere(where: String): String =
    s"""WITH h AS (SELECT doc_id, text,
         ${dkHash("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         ${dkHash("CAST(doc_id AS VARCHAR) || ':' || text")} AS dh
       FROM documents WHERE $where)
       SELECT shard, count(*) AS n_docs,
         CAST(sum(length(text)) AS BIGINT) AS n_chars,
         bit_xor(dh) AS checksum
       FROM h GROUP BY 1"""

  private val dkReleaseManifest: String = dkReleaseManifestWhere("TRUE")

  /** Three-lane Morton oracle: 48 generated terms, bit `b` of lane `i`
    * at z-bit `3b + i`.
    */
  private val dkZorder3: String = {
    val terms = (for {
      (lane, i) <- Seq("sx", "sy", "sz").zipWithIndex
      b <- 0 until 16
    } yield s"((($lane >> $b) & 1) << ${b * 3 + i})").mkString(" | ")
    s"""WITH st AS (SELECT min(l_orderkey) AS mno, max(l_orderkey) AS mxo,
           min(CAST(l_partkey AS BIGINT)) AS mnp,
           max(CAST(l_partkey AS BIGINT)) AS mxp,
           min(CAST(l_suppkey AS BIGINT)) AS mns,
           max(CAST(l_suppkey AS BIGINT)) AS mxs FROM lineitem),
       sc AS (SELECT l_orderkey, l_linenumber,
           ((l_orderkey - mno) * 65535) // greatest(1, mxo - mno) AS sx,
           ((CAST(l_partkey AS BIGINT) - mnp) * 65535)
             // greatest(1, mxp - mnp) AS sy,
           ((CAST(l_suppkey AS BIGINT) - mns) * 65535)
             // greatest(1, mxs - mns) AS sz
         FROM lineitem, st)
       SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS zval
       FROM sc"""
  }

  private val dkBottomK: String =
    s"""SELECT doc_id, lang, source, sample_rank FROM (
           SELECT doc_id, lang, source, CAST(row_number() OVER (
               ORDER BY h % 4503599627370496, h) AS INTEGER) AS sample_rank
           FROM (SELECT doc_id, lang, source,
               ${dkHash("CAST(doc_id AS VARCHAR)")} AS h FROM documents))
         WHERE sample_rank <= 50"""

  /** Shared oracle for the CMS gates: full 4×1024 counter-table replay
    * — md5-prefix hash over "row:"+word, bucket mod width, counter-wise
    * counts. The merge gate REUSES it: counter-wise sum over any split
    * of the corpus telescopes to the from-scratch table.
    */
  private val dkCmsCounters: String =
    """WITH w AS (SELECT unnest(list_filter(
             string_split_regex(trim(lower(text)), '\s+'),
             x -> len(x) > 0)) AS w
           FROM documents WHERE text IS NOT NULL),
         rb AS (SELECT j,
             CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), ':', w)),1,15)) AS BIGINT)
               % 1024 AS bucket
           FROM w, (VALUES (0),(1),(2),(3)) t(j))
         SELECT CAST(j AS INTEGER) AS "row", bucket,
           CAST(count(*) AS BIGINT) AS cnt
         FROM rb GROUP BY 1, 2"""

  /** Shared oracle for the hourly-active-users sketch gates: per-hour
    * register replay + both estimator arms. The streaming gate REUSES
    * it — Complete-mode register aggregation over the drained stream
    * commits exactly the batch registers (max-merge law).
    */
  private val dkHourlyHll: String =
    s"""WITH h AS (SELECT epoch_ns(ts) // 3600000000000 AS hour_id,
           ${dkHash("CAST(user_id AS VARCHAR)")} AS h
         FROM events WHERE user_id IS NOT NULL),
       r AS (SELECT hour_id, h >> 48 AS bucket,
           CASE WHEN (h & ((1::BIGINT << 48) - 1)) = 0 THEN 49
                ELSE 49 - length(bin(h & ((1::BIGINT << 48) - 1))) END AS rank
         FROM h),
       rg AS (SELECT hour_id, bucket, max(rank) AS max_rank
         FROM r GROUP BY 1, 2),
       sa AS (SELECT hour_id, count(*) AS nz,
           sum(CAST(pow(2.0, 49 - max_rank) AS HUGEINT)) AS si
         FROM rg GROUP BY 1),
       e AS (SELECT hour_id, CAST(4096 AS BIGINT) AS m,
           CAST(4096 - nz AS BIGINT) AS v_zero,
           (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0
             * pow(2.0, 49.0)
             / CAST(si + CAST(4096 - nz AS BIGINT)
                 * CAST(pow(2.0, 49.0) AS BIGINT) AS DOUBLE) AS raw
         FROM sa)
       SELECT hour_id, m, v_zero, round(raw, 6) AS raw_estimate,
         round(CASE WHEN raw <= 2.5 * 4096.0 AND v_zero > 0
           THEN 4096.0 * ln(4096.0 / v_zero) ELSE raw END, 6) AS estimate
       FROM e"""

  /** Shared oracle for the HLL sketch gates: the full register-table
    * replay — 60-bit md5-prefix hash, top-12-bit bucket, bin()-length
    * leading-zero rank over the low 48 bits, register-wise max. The
    * merge and streaming gates REUSE it verbatim: register max-merge is
    * a CRDT join, so any split/batching of the corpus commits the same
    * registers as the from-scratch sketch.
    */
  private val dkHllRegisters: String =
    s"""WITH h AS (SELECT ${dkHash("text")} AS h
           FROM documents WHERE text IS NOT NULL),
         r AS (SELECT h >> 48 AS bucket,
             CASE WHEN (h & ((1::BIGINT << 48) - 1)) = 0 THEN 49
                  ELSE 49 - length(bin(h & ((1::BIGINT << 48) - 1))) END AS rank
           FROM h)
         SELECT bucket, CAST(max(rank) AS INTEGER) AS max_rank
         FROM r GROUP BY bucket"""

  /** Shared oracle for the substring-index gates: the from-scratch
    * replay under arrival-order priority (build half outranks the
    * batch). The streaming twin REUSES it — telescoping makes the
    * result micro-batch-independent.
    */
  private val dkDedupIndexSubstring: String =
    """WITH src AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
               THEN 'this document is provided as is without warranty of any kind either expressed or implied ' || text
               ELSE text END AS text,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS grp
           FROM documents),
         t AS (SELECT doc_id, grp,
             list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0) AS ws
           FROM src),
         gi AS (SELECT doc_id, grp, ws,
             unnest(CASE WHEN len(ws) >= 12 THEN range(1, len(ws) - 10) ELSE [] END) AS i
           FROM t),
         g AS (SELECT doc_id, grp, CAST(i - 1 AS INTEGER) AS gpos,
             md5(array_to_string(ws[i:i+11], ' ')) AS h
           FROM gi),
         f AS (SELECT doc_id, gpos,
             row_number() OVER (PARTITION BY h ORDER BY grp, doc_id, gpos) AS rn,
             count(*) OVER (PARTITION BY h) AS c
           FROM g),
         cov AS (SELECT DISTINCT doc_id,
             CAST(unnest(range(gpos, gpos + 12)) AS INTEGER) AS pos
           FROM f WHERE c >= 2 AND rn > 1),
         w AS (SELECT doc_id,
             CAST(generate_subscripts(ws, 1) - 1 AS INTEGER) AS pos, unnest(ws) AS w
           FROM t),
         k AS (SELECT w.doc_id, w.pos, w.w, cov.pos IS NULL AS keep
           FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.pos),
         agg AS (SELECT doc_id,
             coalesce(string_agg(CASE WHEN keep THEN w END, ' ' ORDER BY pos), '') AS text_kept,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_words_kept,
             CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_words_dropped
           FROM k GROUP BY doc_id)
         SELECT t.doc_id, coalesce(agg.text_kept, '') AS text_kept,
           coalesce(agg.n_words_kept, 0) AS n_words_kept,
           coalesce(agg.n_words_dropped, 0) AS n_words_dropped
         FROM t LEFT JOIN agg USING (doc_id)"""

  /** Shared CTE chain for the HTML gates: the synthetic page wrap
    * ([[htmlPage]]) plus [[graft.operators.TextAnalysis
    * .extractHtmlText]]'s regexp chain replayed in DuckDB, ending in
    * `clean(doc_id, t)`. Defined with a raw string so the regex
    * backslashes survive the interpolated call sites.
    */
  private val dkHtmlClean: String =
    """page AS (SELECT doc_id,
           '<html><head><title>Doc</title><style type="text/css">p { color: red; }</style><script>if (1 < 2) { document.write("x"); }</script></head><body><!-- nav --><h1>Doc &amp; entry ' || CAST(doc_id AS VARCHAR) || '</h1><p>' ||
           replace(text, '. ', '.</p>' || chr(10) || '<p>') ||
           '</p><br>&quot;fin&quot; &lt;eof&gt;</body></html>' AS h
           FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(h, '(?is)<script[^>]*>.*?</script[^>]*>', ' ', 'g') AS h FROM page),
         s2 AS (SELECT doc_id, regexp_replace(h, '(?is)<style[^>]*>.*?</style[^>]*>', ' ', 'g') AS h FROM s1),
         s3 AS (SELECT doc_id, regexp_replace(h, '(?s)<!--.*?-->', ' ', 'g') AS h FROM s2),
         s4 AS (SELECT doc_id, regexp_replace(regexp_replace(h, '(?i)<br[^>]*>', chr(10), 'g'),
             '(?i)</(p|div|li|h[1-6]|tr|ul|ol|blockquote|title)[^>]*>', chr(10), 'g') AS h FROM s3),
         s5 AS (SELECT doc_id, regexp_replace(h, '(?s)<[^>]*>', ' ', 'g') AS h FROM s4),
         e AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(replace(h,
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&apos;', ''''),
             '&nbsp;', ' '), '&amp;', '&') AS h FROM s5),
         ws AS (SELECT doc_id, regexp_replace(regexp_replace(h, '[ \t\r]+', ' ', 'g'),
             '( ?\n)+ ?', chr(10), 'g') AS h FROM e),
         clean AS (SELECT doc_id, regexp_replace(h, '^[\n ]+|[\n ]+$', '', 'g') AS t FROM ws)"""

  /** Shared oracle for the upsample gates — the streaming twin pins
    * stream ≡ batch by REUSING this string, not by copying it.
    */
  private lazy val dkUpsampleOracle: String =
    s"""WITH n AS (SELECT doc_id, source,
           (CASE WHEN source = 'src0' THEN 2 WHEN source = 'src1' THEN 0
                 WHEN source = 'src2' THEN 0 ELSE 1 END)
           + (CASE WHEN ${dkHash("CAST(doc_id AS VARCHAR) || ':up'")} % 1000000
                < (CASE WHEN source = 'src0' THEN ${math.round((2.3 - 2) * 1000000)}
                        WHEN source = 'src1' THEN ${math.round(0.5 * 1000000)}
                        WHEN source = 'src2' THEN 0 ELSE 0 END)
              THEN 1 ELSE 0 END) AS nc
           FROM documents)
         SELECT doc_id, source, CAST(unnest(range(0, nc)) AS INTEGER) AS epoch
         FROM n WHERE nc >= 1"""

  /** Shared oracle for the WET gates (batch roundtrip + stream parse). */
  private val dkWetOracle: String =
    """SELECT 'http://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
         CAST(octet_length(encode(text)) AS BIGINT) AS content_length, text
         FROM documents"""

  /** Shingle CTEs (w, s) over documents: distinct word 3-grams, matching
    * TextFunctions.shingles.
    */
  private val dkShingles: String =
    """w AS (SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS words FROM documents),
       s AS (SELECT doc_id, CASE WHEN len(words) >= 3
           THEN list_distinct([array_to_string(words[i:i+2], ' ') for i in range(1, len(words)-1)])
           ELSE [array_to_string(words, ' ')] END AS sh FROM w)"""

  private val dkMinhashSigSelect: String = {
    val sigs = (0 until 16).map { j =>
      val (a, b) = TextFunctions.hashParams(j)
      s"list_min([($a*x + $b) % 2147483647 for x in hs]) AS sig_$j"
    }
    s"""WITH $dkShingles,
       h AS (SELECT doc_id, [${dkHash("x")} % 2147483647 for x in sh] AS hs FROM s)
       SELECT doc_id, ${sigs.mkString(", ")} FROM h"""
  }

  private val dkLshPairs: String = {
    val bucketSelects = (0 until 8).map { b =>
      s"SELECT doc_id, $b AS band, md5(concat_ws('_', sig_${2 * b}, sig_${2 * b + 1})) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    val sigs = (0 until 16).map { j =>
      val (a, b) = TextFunctions.hashParams(j)
      s"list_min([($a*x + $b) % 2147483647 for x in hs]) AS sig_$j"
    }
    s"""WITH $dkShingles,
       h AS (SELECT doc_id, [${dkHash("x")} % 2147483647 for x in sh] AS hs FROM s),
       sig AS (SELECT doc_id, ${sigs.mkString(", ")} FROM h),
       bk AS ($bucketSelects)
       SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
        AND a.doc_id < b.doc_id"""
  }

  /** From-scratch union-run replay for `dedup_index_append`: exact
    * stage over ALL docs with arrival-order priority (grp 0 = corpus
    * outranks grp 1 = batch, then doc_id), word-shingle minhash
    * banding over the exact survivors (the dkLshPairs arithmetic,
    * verbatim), batch doc dropped on any band-bucket shared with a
    * higher-priority exact survivor. Emits the surviving batch docs —
    * what DedupIndex.append computes incrementally from the frozen
    * artifacts.
    */
  /** From-scratch SemDeDup replay under the arrival-order priority the
    * build(%3!=0)-then-append(%3==0) split induces: an index vector
    * (grp 0) precedes every batch vector (grp 1), and within a group
    * lower vec_id wins — precedence is lexicographic on (grp, vec_id).
    * Shared by `dedup_index_semantic` and `streaming_dedup_semantic`
    * (the telescoping property makes the survivor set independent of
    * how the %3==0 half is micro-batched).
    */
  private val dkDedupIndexSemantic: String =
    """WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
       v AS (SELECT vec_id, vd,
           CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END AS grp FROM ve),
       c AS (SELECT vec_id AS centroid_id, vd AS cv FROM ve
         WHERE vec_id % 100 = 0),
       asg AS (SELECT vec_id, vd, grp, centroid_id FROM (
           SELECT v.vec_id, v.vd, v.grp, c.centroid_id,
             row_number() OVER (PARTITION BY v.vec_id
               ORDER BY round(list_cosine_similarity(v.vd, c.cv), 6) DESC,
                        c.centroid_id) AS rn
           FROM v, c) WHERE rn = 1)
       SELECT a.vec_id, a.centroid_id FROM asg a
       WHERE NOT EXISTS (SELECT 1 FROM asg b
         WHERE b.centroid_id = a.centroid_id
           AND (b.grp < a.grp OR (b.grp = a.grp AND b.vec_id < a.vec_id))
           AND round(list_cosine_similarity(a.vd, b.vd), 6) >= 0.3)"""

  private val dkDedupIndexAppend: String = {
    val sigs = (0 until 16).map { j =>
      val (a, b) = TextFunctions.hashParams(j)
      s"list_min([($a*x + $b) % 2147483647 for x in hs]) AS sig_$j"
    }
    val bucketSelects = (0 until 8).map { b =>
      s"SELECT doc_id, grp, $b AS band, md5(concat_ws('_', sig_${2 * b}, sig_${2 * b + 1})) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH n0 AS (SELECT doc_id, text,
           CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS grp,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
         FROM documents),
       rk0 AS (SELECT *, row_number() OVER (PARTITION BY h
           ORDER BY grp, doc_id) AS rk FROM n0),
       es AS (SELECT doc_id, text, grp FROM rk0 WHERE rk = 1),
       w AS (SELECT doc_id, grp,
           string_split_regex(trim(lower(text)), '\\s+') AS words FROM es),
       s AS (SELECT doc_id, grp, CASE WHEN len(words) >= 3
           THEN list_distinct([array_to_string(words[i:i+2], ' ')
             for i in range(1, len(words)-1)])
           ELSE [array_to_string(words, ' ')] END AS sh FROM w),
       h2 AS (SELECT doc_id, grp,
           [${dkHash("x")} % 2147483647 for x in sh] AS hs FROM s),
       sig AS (SELECT doc_id, grp, ${sigs.mkString(", ")} FROM h2),
       bk AS ($bucketSelects),
       dropped AS (SELECT DISTINCT b.doc_id
         FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
           AND b.grp = 1 AND (a.grp = 0 OR a.doc_id < b.doc_id))
       SELECT e.doc_id, d.n_chars FROM es e
       JOIN documents d USING (doc_id)
       WHERE e.grp = 1
         AND e.doc_id NOT IN (SELECT doc_id FROM dropped)"""
  }

  /** Three-group from-scratch replay for `dedup_index_compact`: build
    * corpus (grp 0, %3!=0), first batch (grp 1, %6==0), second batch
    * (grp 2, %6==3), priority lexicographic on (grp, doc_id) — the
    * gate compacts between the two appends, and compaction parity
    * means the final batch's survivors still equal this replay.
    */
  private val dkDedupIndexCompact: String = {
    val sigs = (0 until 16).map { j =>
      val (a, b) = TextFunctions.hashParams(j)
      s"list_min([($a*x + $b) % 2147483647 for x in hs]) AS sig_$j"
    }
    val bucketSelects = (0 until 8).map { b =>
      s"SELECT doc_id, grp, $b AS band, md5(concat_ws('_', sig_${2 * b}, sig_${2 * b + 1})) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH n0 AS (SELECT doc_id, text,
           CASE WHEN doc_id % 3 <> 0 THEN 0
                WHEN doc_id % 6 = 0 THEN 1 ELSE 2 END AS grp,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
         FROM documents),
       rk0 AS (SELECT *, row_number() OVER (PARTITION BY h
           ORDER BY grp, doc_id) AS rk FROM n0),
       es AS (SELECT doc_id, text, grp FROM rk0 WHERE rk = 1),
       w AS (SELECT doc_id, grp,
           string_split_regex(trim(lower(text)), '\\s+') AS words FROM es),
       s AS (SELECT doc_id, grp, CASE WHEN len(words) >= 3
           THEN list_distinct([array_to_string(words[i:i+2], ' ')
             for i in range(1, len(words)-1)])
           ELSE [array_to_string(words, ' ')] END AS sh FROM w),
       h2 AS (SELECT doc_id, grp,
           [${dkHash("x")} % 2147483647 for x in sh] AS hs FROM s),
       sig AS (SELECT doc_id, grp, ${sigs.mkString(", ")} FROM h2),
       bk AS ($bucketSelects),
       dropped AS (SELECT DISTINCT b.doc_id
         FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
           AND b.grp = 2 AND (a.grp < 2 OR a.doc_id < b.doc_id))
       SELECT e.doc_id, d.n_chars FROM es e
       JOIN documents d USING (doc_id)
       WHERE e.grp = 2
         AND e.doc_id NOT IN (SELECT doc_id FROM dropped)"""
  }

  /** Batch replay of the composed ingest pipeline (`streaming_curate`):
    * classifier training + scoring over the planted corpus
    * (classifierOracle CTEs), length+score filters, band keys of the
    * PLANTED text (the dkLshPairs arithmetic — corpus and %7 probe
    * share one bk table, matching the gate's planted probe), exact
    * hash families among the filtered docs, family dropped iff its
    * representative shares a probe band bucket (the verdict is
    * member-invariant: band keys read only the normalized word
    * sequence every family member shares).
    */
  private def dkStreamingCurate: String = {
    val sigs = (0 until 16).map { j =>
      val (a, b) = TextFunctions.hashParams(j)
      s"list_min([($a*x + $b) % 2147483647 for x in hs]) AS sig_$j"
    }
    val bucketSelects = (0 until 8).map { b =>
      s"SELECT doc_id, $b AS band, md5(concat_ws('_', sig_${2 * b}, sig_${2 * b + 1})) AS bucket FROM csig"
    }.mkString(" UNION ALL ")
    s"""${classifierOracle(10, "4.0")},
       sc AS (SELECT d.doc_id, 1/(1+exp(-s.m)) AS score
         FROM d JOIN (SELECT f.doc_id, sum(f.x * w.wt) AS m
             FROM feat f JOIN w10 w USING (bucket) GROUP BY f.doc_id) s
         USING (doc_id)),
       fq AS (SELECT src.doc_id, src.text FROM src JOIN sc USING (doc_id)
         WHERE length(src.text) >= 250 AND length(src.text) <= 100000
           AND sc.score <= 0.094),
       cw AS (SELECT doc_id,
           string_split_regex(trim(lower(text)), '\\s+') AS words FROM src),
       cs AS (SELECT doc_id, CASE WHEN len(words) >= 3
           THEN list_distinct([array_to_string(words[i:i+2], ' ')
             for i in range(1, len(words)-1)])
           ELSE [array_to_string(words, ' ')] END AS sh FROM cw),
       ch AS (SELECT doc_id,
           [${dkHash("x")} % 2147483647 for x in sh] AS hs FROM cs),
       csig AS (SELECT doc_id, ${sigs.mkString(", ")} FROM ch),
       cbk AS ($bucketSelects),
       pbk AS (SELECT DISTINCT band, bucket FROM cbk WHERE doc_id % 7 = 0),
       bad AS (SELECT DISTINCT cbk.doc_id FROM cbk
         JOIN pbk USING (band, bucket)),
       hf AS (SELECT
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS text_hash,
           min(doc_id) AS rep FROM fq GROUP BY 1)
       SELECT text_hash FROM hf
       WHERE rep NOT IN (SELECT doc_id FROM bad)"""
  }

  /** Byte-shingle MinHash-LSH pairs over the constructed payload
    * families — the independent SQL re-derivation of
    * `multimodal_neardup`: payload hex rebuilt arithmetically from
    * doc_id, byte shingles as 16-hex-char substrings at every byte
    * offset, then the exact minhash/band/join pipeline of `dkLshPairs`.
    */
  private val dkPayloadBk: String = {
    val sigs = (0 until 16).map { j =>
      val (a, b) = TextFunctions.hashParams(j)
      s"list_min([($a*x + $b) % 2147483647 for x in hs]) AS sig_$j"
    }
    val bucketSelects = (0 until 8).map { b =>
      s"SELECT doc_id, $b AS band, md5(concat_ws('_', sig_${2 * b}, sig_${2 * b + 1})) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    s"""f AS (SELECT doc_id, doc_id // 5 AS fam, doc_id % 5 AS m
           FROM documents),
       p AS (SELECT doc_id,
           CASE m WHEN 0 THEN repeat(md5('fam' || CAST(fam AS VARCHAR)), 4)
                  WHEN 1 THEN repeat(md5('fam' || CAST(fam AS VARCHAR)), 4) || 'deadbeef00112233'
                  WHEN 2 THEN 'cafe' || repeat(md5('fam' || CAST(fam AS VARCHAR)), 4)
                  WHEN 3 THEN substr(repeat(md5('fam' || CAST(fam AS VARCHAR)), 4), 1, 116)
                  ELSE repeat(md5('solo' || CAST(doc_id AS VARCHAR)), 4) END AS ph
         FROM f),
       s AS (SELECT doc_id, CASE WHEN len(ph) >= 16
           THEN list_distinct([substr(ph, 2*i+1, 16) for i in range(0, len(ph)//2 - 7)])
           ELSE [ph] END AS sh FROM p),
       h AS (SELECT doc_id, [${dkHash("x")} % 2147483647 for x in sh] AS hs FROM s),
       sig AS (SELECT doc_id, ${sigs.mkString(", ")} FROM h),
       bk AS ($bucketSelects)"""
  }

  private val dkPayloadNeardup: String =
    s"""WITH $dkPayloadBk
       SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
        AND a.doc_id < b.doc_id"""

  private val dkPayloadNeardupVerified: String =
    s"""WITH $dkPayloadBk,
       pr AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
          AND a.doc_id < b.doc_id),
       h60 AS (SELECT doc_id, [${dkHash("x")} for x in sh] AS hsf FROM s),
       jc AS (SELECT pr.id_a, pr.id_b,
           round(CAST(len(list_intersect(sa.hsf, sb.hsf)) AS DOUBLE) /
             (len(sa.hsf) + len(sb.hsf) - len(list_intersect(sa.hsf, sb.hsf))),
             6) AS jaccard
         FROM pr JOIN h60 sa ON sa.doc_id = pr.id_a
         JOIN h60 sb ON sb.doc_id = pr.id_b)
       SELECT id_a, id_b, jaccard FROM jc WHERE jaccard >= 0.5"""

  /** Arithmetic re-derivation of the constructed-BMP dHash (CTE chain
    * ending in `dh(doc_id, dhash)`): gray grid from the same formulas,
    * gradient bits from pairwise comparisons, bit-packed via HUGEINT
    * (DuckDB's BIGINT `<<` overflows at bit 63) and folded to the
    * signed 64-bit value Spark computes.
    */
  private val dkDhash: String =
    """f AS (SELECT doc_id, doc_id // 5 AS fam, doc_id % 5 AS m
           FROM documents),
       xs AS (SELECT unnest(range(0, 9)) AS x),
       ys AS (SELECT unnest(range(0, 8)) AS y),
       g AS (SELECT doc_id, x, y,
           CASE WHEN m = 4 THEN ((doc_id + 3) * (x*11 + y*17 + 5)) % 256
                ELSE ((fam + 1) * (x*13 + y*31 + 7) +
                      CASE WHEN x = 0 AND y = 0 THEN m*3 ELSE 0 END) % 256
           END AS v
         FROM f, xs, ys),
       bits AS (SELECT a.doc_id, a.y*8 + a.x AS idx FROM g a JOIN g b
         ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
         WHERE a.x < 8 AND a.v > b.v),
       hs AS (SELECT doc_id, sum(1::HUGEINT << CAST(idx AS INTEGER)) AS h
         FROM bits GROUP BY doc_id),
       dh AS (SELECT f.doc_id, CAST(CASE
           WHEN h IS NULL THEN 0::HUGEINT
           WHEN h >= 9223372036854775808::HUGEINT
             THEN h - 18446744073709551616::HUGEINT
           ELSE h END AS BIGINT) AS dhash
         FROM f LEFT JOIN hs ON f.doc_id = hs.doc_id)"""

  /** Arithmetic re-derivation of the integer-DCT pHash (CTE chain
    * ending in `ph(doc_id, phash)`): the cosine table
    * `round(cos(kπ/64)·2^15)` is implementation-independent (every
    * entry ≥ 0.004 from a rounding boundary), the 32×32 plane comes
    * from the fixture gray formula through the `x·srcW/32` resample,
    * and both separable DCT passes, the non-DC lower median, and the
    * threshold bits are exact BIGINT arithmetic (HUGEINT bit-pack
    * folded to the signed value Spark computes). Container-blind: the
    * 9×8 BMP/PNG and 72×64 block-constant JPEG fixtures resample to
    * the same plane.
    */
  private val dkPhash: String =
    """t AS (SELECT k, CAST(round(cos(k * pi() / 64) * 32768) AS BIGINT) AS c
           FROM (SELECT unnest(range(0, 128)) AS k)),
       d AS (SELECT doc_id, doc_id // 5 AS fam, doc_id % 5 AS m FROM documents),
       xs AS (SELECT unnest(range(0, 32)) AS x32),
       ys AS (SELECT unnest(range(0, 32)) AS y32),
       p AS (SELECT doc_id, x32, y32, CAST(CASE WHEN m = 4
           THEN ((doc_id + 3) * ((x32 * 9 // 32) * 11 + (y32 * 8 // 32) * 17 + 5)) % 256
           ELSE ((fam + 1) * ((x32 * 9 // 32) * 13 + (y32 * 8 // 32) * 31 + 7)
                 + CASE WHEN x32 * 9 // 32 = 0 AND y32 * 8 // 32 = 0 THEN m * 3 ELSE 0 END) % 256
         END AS BIGINT) AS v FROM d, xs, ys),
       us AS (SELECT unnest(range(0, 8)) AS u),
       g AS (SELECT doc_id, u, y32, CAST(sum(v * t.c) AS BIGINT) AS gv
         FROM p, us JOIN t ON t.k = ((2 * x32 + 1) * u) % 128
         GROUP BY 1, 2, 3),
       vgrid AS (SELECT unnest(range(0, 8)) AS vv),
       fc AS (SELECT doc_id, u, vv, CAST(sum(gv * t.c) AS BIGINT) AS fv
         FROM g, vgrid JOIN t ON t.k = ((2 * y32 + 1) * vv) % 128
         GROUP BY 1, 2, 3),
       med AS (SELECT doc_id, fv AS mv FROM (
           SELECT doc_id, fv, row_number() OVER (PARTITION BY doc_id ORDER BY fv) AS rn
           FROM fc WHERE NOT (u = 0 AND vv = 0)) WHERE rn = 32),
       phs AS (SELECT fc.doc_id, sum(1::HUGEINT << CAST(u * 8 + vv AS INTEGER)) AS h
         FROM fc JOIN med ON fc.doc_id = med.doc_id WHERE fc.fv > med.mv
         GROUP BY 1),
       ph AS (SELECT d.doc_id, CAST(CASE
           WHEN h IS NULL THEN 0::HUGEINT
           WHEN h >= 9223372036854775808::HUGEINT
             THEN h - 18446744073709551616::HUGEINT
           ELSE h END AS BIGINT) AS phash
         FROM d LEFT JOIN phs ON d.doc_id = phs.doc_id)"""

  /** Arithmetic re-derivation of the WAV energy-envelope hash (CTE
    * chain ending in `ah(doc_id, ahash)`): the fixture sample formula,
    * equal-length window sums, sign bits, HUGEINT bit-pack folded to
    * the signed 64-bit value Spark computes. The stereo repack and the
    * ×3 volume member are deliberately NOT modeled — the hash is
    * invariant to both by construction.
    */
  private val dkAudioEnvelope: String =
    """f AS (SELECT doc_id, doc_id // 5 AS fam, doc_id % 5 AS m
           FROM documents),
       ts AS (SELECT unnest(range(0, 650)) AS t),
       sm AS (SELECT doc_id, t,
           CASE WHEN m = 4 THEN ((doc_id + 3) * (t*23 + 11)) % 89
                ELSE ((fam + 1) * (t*17 + 7)) % 97
                     + CASE WHEN m = 2 AND t = 0 THEN 40 ELSE 0 END
           END AS v
         FROM f, ts),
       ew AS (SELECT doc_id, t // 10 AS w, sum(v) AS e
         FROM sm GROUP BY 1, 2),
       abits AS (SELECT a.doc_id, a.w AS i FROM ew a JOIN ew b
         ON a.doc_id = b.doc_id AND b.w = a.w + 1
         WHERE a.w < 64 AND a.e > b.e),
       ahs AS (SELECT doc_id,
           sum(1::HUGEINT << CAST(i AS INTEGER)) AS hv
         FROM abits GROUP BY 1),
       ah AS (SELECT f.doc_id, CAST(CASE
           WHEN hv IS NULL THEN 0::HUGEINT
           WHEN hv >= 9223372036854775808::HUGEINT
             THEN hv - 18446744073709551616::HUGEINT
           ELSE hv END AS BIGINT) AS ahash
         FROM f LEFT JOIN ahs ON f.doc_id = ahs.doc_id)"""

  /** Arithmetic envelope of the MP3-family fixture (CTE chain ending
    * in `ah(doc_id, ahash)`; must run under WITH RECURSIVE): the
    * reflecting level walk as a recursive CTE, the period-42 triangle
    * |·|-sum per 1152-sample window (all windows equal-length — 74880
    * = 65·1152 — so the sign bits compare plain sums), and the
    * HUGEINT bit-pack folded to the signed value Spark computes. The
    * oracle models NO container: WAV parses, FLAC decodes losslessly,
    * and the two MP3 members must land on the same bits through the
    * real Layer III decode.
    */
  private val dkMp3Envelope: String =
    """f AS (SELECT doc_id, doc_id // 5 AS fam, doc_id % 5 AS m
           FROM documents),
       kk AS (SELECT doc_id, CASE WHEN m = 4 THEN doc_id * 2 + 77
           ELSE fam END AS key FROM f),
       walk AS (
         SELECT doc_id, key, 0 AS w, 1 AS p FROM kk
         UNION ALL
         SELECT doc_id, key, w + 1,
           p + CASE WHEN p = 0 THEN 1 WHEN p = 2 THEN -1
                WHEN ((key + 1) * (w * 37 + 11)) % 97 % 2 = 0 THEN 1
                ELSE -1 END
         FROM walk WHERE w < 64),
       lvl AS (SELECT doc_id, w,
           CASE p WHEN 0 THEN 32 WHEN 1 THEN 192 ELSE 1152 END AS lvl
         FROM walk),
       wsum AS (SELECT w, sum(abs(abs(2 * ((w * 1152 + j) % 42) - 42)
             - 21)) AS s
         FROM (SELECT unnest(range(0, 65)) AS w),
              (SELECT unnest(range(0, 1152)) AS j)
         GROUP BY w),
       ew AS (SELECT l.doc_id, l.w, l.lvl * ws.s AS e
         FROM lvl l JOIN wsum ws USING (w)),
       abits AS (SELECT a.doc_id, a.w AS i FROM ew a JOIN ew b
         ON a.doc_id = b.doc_id AND b.w = a.w + 1
         WHERE a.w < 64 AND a.e > b.e),
       ahs AS (SELECT doc_id,
           sum(1::HUGEINT << CAST(i AS INTEGER)) AS hv
         FROM abits GROUP BY 1),
       ah AS (SELECT f.doc_id, CAST(CASE
           WHEN hv IS NULL THEN 0::HUGEINT
           WHEN hv >= 9223372036854775808::HUGEINT
             THEN hv - 18446744073709551616::HUGEINT
           ELSE hv END AS BIGINT) AS ahash
         FROM f LEFT JOIN ahs ON f.doc_id = ahs.doc_id)"""

  /** Batch-expressible survivor set of the streaming near-dup gate: a
    * doc survives iff no SMALLER doc shares any (band, bucket) — the
    * constant-ingest-ts single-window stream's bucket-ownership rule.
    */
  private val dkStreamingNearDup: String = {
    val bucketSelects = (0 until 8).map { b =>
      s"SELECT doc_id, $b AS band, md5(concat_ws('_', sig_${2 * b}, sig_${2 * b + 1})) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    val sigs = (0 until 16).map { j =>
      val (a, b) = TextFunctions.hashParams(j)
      s"list_min([($a*x + $b) % 2147483647 for x in hs]) AS sig_$j"
    }
    s"""WITH $dkShingles,
       h AS (SELECT doc_id, [${dkHash("x")} % 2147483647 for x in sh] AS hs FROM s),
       sig AS (SELECT doc_id, ${sigs.mkString(", ")} FROM h),
       bk AS ($bucketSelects),
       coll AS (SELECT DISTINCT a.doc_id FROM bk a JOIN bk b
         ON a.band = b.band AND a.bucket = b.bucket AND b.doc_id < a.doc_id)
       SELECT d.doc_id FROM documents d
       WHERE d.doc_id NOT IN (SELECT doc_id FROM coll)"""
  }

  /** Cross-corpus band join: probe = doc_id % 7 = 0; contaminated = any
    * corpus doc sharing a (band, bucket) with a probe doc.
    */
  /** Shared PQ CTEs (DuckDB): 8 smallest-id anchor codebook and the
    * per-(vector, subspace) nearest-code assignment — the independent
    * re-derivation of `PqEncodeExpr` (round-6 L2², tie to smaller code).
    */
  /** Shared PQ encode tail (cand, unn, enc) over CTEs `v(vec_id, vd)`
    * and `a(code, av)`: per-(vector, subspace) nearest-code assignment
    * (round-6 L2², tie to smaller code) — the independent re-derivation
    * of `PqEncodeExpr`, parameterized by where the codebook `a` comes
    * from (anchor-selected or trained).
    */
  private val dkPqEncTail: String =
    """cand AS (SELECT v.vec_id, a.code,
           [round(list_sum([pow(vd[CAST(j*8+i+1 AS INTEGER)]
               - av[CAST(j*8+i+1 AS INTEGER)], 2) for i in range(0,8)]), 6)
             for j in range(0,8)] AS d2s
         FROM v, a),
       unn AS (SELECT vec_id, code,
           CAST(generate_subscripts(d2s,1)-1 AS INTEGER) AS j,
           unnest(d2s) AS d2 FROM cand),
       enc AS (SELECT vec_id, j, code FROM (
           SELECT vec_id, j, code, row_number() OVER (PARTITION BY vec_id, j
             ORDER BY d2, code) AS rn FROM unn) WHERE rn = 1)"""

  private val dkPqEnc: String =
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
       a AS (SELECT vec_id AS code, vd AS av FROM v WHERE vec_id < 8),
       $dkPqEncTail"""

  /** Trained per-subspace PQ sub-centroids in DuckDB SQL, ending in
    * `tc(sub, code, cv)` — the independent replay of
    * `Similarity.pqTrainSubCentroids` at m=8, k=8, one Lloyd iteration
    * over the hash-sampled half of the corpus: seeds are the 8 smallest-
    * (hash, id) sample rows sliced per subspace; assignment is round-6
    * L2² with smaller-code tie-break; recompute is per-(sub, code, dim)
    * averages; an empty cell keeps its seed.
    */
  /** The training chain parameterized over where `v(vec_id, vd)` comes
    * from — raw embeddings for `pq_train`, residuals for the trained
    * residual IVFADC gate.
    */
  private def dkPqTrainFrom(vCte: String): String =
    s"""$vCte,
       hh AS (SELECT vec_id, vd,
           ${dkHash("CAST(vec_id AS VARCHAR)")} AS hk FROM v),
       samp AS (SELECT * FROM hh WHERE hk % 1000000 < 500000),
       seeds AS (SELECT vd,
           CAST(row_number() OVER (ORDER BY hk, vec_id) - 1 AS BIGINT) AS code
         FROM (SELECT * FROM samp ORDER BY hk, vec_id LIMIT 8)),
       jj AS (SELECT unnest(range(0, 8)) AS j),
       sseed AS (SELECT CAST(jj.j AS INTEGER) AS sub, seeds.code,
           list_slice(seeds.vd, jj.j*8 + 1, jj.j*8 + 8) AS sv
         FROM seeds, jj),
       svv AS (SELECT samp.vec_id, CAST(jj.j AS INTEGER) AS sub,
           list_slice(samp.vd, jj.j*8 + 1, jj.j*8 + 8) AS xv
         FROM samp, jj),
       asg AS (SELECT vec_id, sub, code, xv FROM (
           SELECT s.vec_id, s.sub, c.code, s.xv,
             row_number() OVER (PARTITION BY s.vec_id, s.sub
               ORDER BY round(list_sum([pow(s.xv[CAST(i+1 AS INTEGER)]
                 - c.sv[CAST(i+1 AS INTEGER)], 2) for i in range(0,8)]), 6),
                 c.code) AS rn
           FROM svv s JOIN sseed c ON s.sub = c.sub) WHERE rn = 1),
       rec AS (SELECT sub, code, pos, avg(x) AS mn FROM (
           SELECT sub, code,
             CAST(generate_subscripts(xv,1)-1 AS INTEGER) AS pos,
             unnest(xv) AS x FROM asg)
         GROUP BY 1, 2, 3),
       newc AS (SELECT sub, code, list(mn ORDER BY pos) AS nv
         FROM rec GROUP BY 1, 2),
       tc AS (SELECT s.sub, s.code, coalesce(n.nv, s.sv) AS cv
         FROM sseed s LEFT JOIN newc n ON s.sub = n.sub AND s.code = n.code)"""

  private val dkPqTrainCTEs: String = dkPqTrainFrom(
    "v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings)")

  /** PQ encode CTEs over the TRAINED codebook: `tc` assembled per code
    * (subspace slices concatenated in order) and rounded to 6 decimals —
    * the same rounding the Spark side applies to the trained codebook,
    * so both engines' ADC math runs on identical numbers.
    */
  private val dkPqEncTrained: String =
    s"""$dkPqTrainCTEs,
       a AS (SELECT code,
           [round(x, 6) for x in flatten(list(cv ORDER BY sub))] AS av
         FROM tc GROUP BY code),
       $dkPqEncTail"""

  /** The IVF-PQ ADC search chain shared by the `ann_ivfpq_*` oracles:
    * PQ-reconstructed vectors, id-selected centroids, 2-probe query
    * assignment, ADC scores for queries vec_id < 10, ranked as `rk`
    * (cos_sim, knn_rank).
    */
  private val dkIvfPqAdcCtes: String =
    s"""$dkPqEncTrained,
       sub AS (SELECT e.vec_id, e.j,
           [a.av[CAST(e.j*8+i+1 AS INTEGER)] for i in range(0,8)] AS sv
         FROM enc e JOIN a ON a.code = e.code),
       recon AS (SELECT vec_id, flatten(list(sv ORDER BY j)) AS rv
         FROM sub GROUP BY vec_id),
       cen AS (SELECT vec_id AS centroid_id, vd AS cv FROM v
         WHERE vec_id % 100 = 0),
       ranked AS (SELECT v.vec_id, cen.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY round(list_cosine_similarity(vd, cv), 6) DESC,
                      centroid_id) AS rn
         FROM v, cen),
       asg1 AS (SELECT vec_id, centroid_id FROM ranked WHERE rn = 1),
       asgp AS (SELECT vec_id, centroid_id FROM ranked WHERE rn <= 2),
       sc AS (SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
           round(list_cosine_similarity(qv.vd, r.rv), 6) AS cos_sim
         FROM asgp p JOIN asg1 b ON p.centroid_id = b.centroid_id
           AND p.vec_id <> b.vec_id
         JOIN v qv ON qv.vec_id = p.vec_id
         JOIN recon r ON r.vec_id = b.vec_id
         WHERE p.vec_id < 10),
       rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS knn_rank FROM sc)"""

  /** ADC top-20 + exact re-rank to top-5 — shared by
    * `ann_ivfpq_refined` (in-session) and `ann_index_refined`
    * (persisted-index probe), which must be bit-identical.
    */
  private val dkIvfPqRefinedSql: String =
    s"""WITH $dkIvfPqAdcCtes,
       cand_r AS (SELECT query_id, neighbor_id FROM rk WHERE knn_rank <= 20),
       ex AS (SELECT cd.query_id, cd.neighbor_id,
           round(list_cosine_similarity(qv.vd, nv.vd), 6) AS cos_sim
         FROM cand_r cd
         JOIN v qv ON qv.vec_id = cd.query_id
         JOIN v nv ON nv.vec_id = cd.neighbor_id),
       rk2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS knn_rank
         FROM ex)
       SELECT query_id, neighbor_id, cos_sim, knn_rank FROM rk2
       WHERE knn_rank <= 5"""

  /** Shared LSH band-bucket CTEs (w, s, h, sig, bk) over documents —
    * one (doc_id, band, bucket) row per band per doc, mirroring
    * `TextFunctions.minhashBuckets` with the default 16x8 layout.
    */
  private val dkBk: String = {
    val bucketSelects = (0 until 8).map { b =>
      s"SELECT doc_id, $b AS band, md5(concat_ws('_', sig_${2 * b}, sig_${2 * b + 1})) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    val sigs = (0 until 16).map { j =>
      val (a, b) = TextFunctions.hashParams(j)
      s"list_min([($a*x + $b) % 2147483647 for x in hs]) AS sig_$j"
    }
    s"""$dkShingles,
       h AS (SELECT doc_id, [${dkHash("x")} % 2147483647 for x in sh] AS hs FROM s),
       sig AS (SELECT doc_id, ${sigs.mkString(", ")} FROM h),
       bk AS ($bucketSelects)"""
  }

  /** Quality-flags re-derivation, shared by the batch gate and its
    * streaming twin (stateless exprs: the stream emits the batch scores).
    */
  /** The BM25 oracle's CTE chain, shared between the direct-form
    * oracle and the hybrid-RRF oracle (which ranks over its `sc`
    * output): query terms, tokenization, tf, the exact (N, avgdl)
    * statistics, df, and the Lucene-idf weighted sum.
    */
  private val oracleSqlBm25Ctes: String =
    """q AS (SELECT * FROM (VALUES
           (0::BIGINT, 'spark'), (0::BIGINT, 'window'), (0::BIGINT, 'merge'),
           (1::BIGINT, 'hash'), (1::BIGINT, 'join'), (1::BIGINT, 'table'), (1::BIGINT, 'scan'),
           (2::BIGINT, 'customer'), (2::BIGINT, 'vector'), (2::BIGINT, 'stream')
         ) v(qid, term)),
         toks AS (SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               w -> len(w) > 0) AS ws
           FROM documents),
         words AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM toks),
         tf AS (SELECT qid, doc_id, term, dl, count(*) AS tfr
           FROM words JOIN q USING (term) GROUP BY 1, 2, 3, 4),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(CAST(len(ws) AS DOUBLE)) AS avgdl FROM toks),
         dfq AS (SELECT qid, term, CAST(count(*) AS DOUBLE) AS dfr
           FROM tf GROUP BY 1, 2),
         sc AS (SELECT tf.qid, tf.doc_id,
             sum(ln(1 + (st.n - dfq.dfr + 0.5) / (dfq.dfr + 0.5))
               * (tf.tfr * 2.2)
               / (tf.tfr + (0.75 * (tf.dl / st.avgdl) + 0.25) * 1.2)) AS s
           FROM tf JOIN dfq USING (qid, term), st GROUP BY 1, 2)"""

  private val oracleSqlBm25: String =
    s"WITH $oracleSqlBm25Ctes\n         SELECT qid, doc_id, round(s, 6) AS score FROM sc"

  /** RRF fusion oracle: BM25 top-10 (ranked over the ROUNDED score,
    * doc-id tie-break — the engine-stable convention), cosine top-10
    * for probe vec_id 0-2, the 1/(60+rank) reciprocal-rank sum, fused
    * top-5.
    */
  private val oracleSqlHybridRrf: String =
    s"""WITH $oracleSqlBm25Ctes,
         lexr AS (SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
             ORDER BY round(s, 6) DESC, doc_id) AS rk FROM sc),
         ve AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         kn AS (SELECT qv.vec_id AS qid, cv.vec_id AS doc_id,
             row_number() OVER (PARTITION BY qv.vec_id
               ORDER BY round(list_cosine_similarity(qv.vd, cv.vd), 6) DESC,
                        cv.vec_id) AS rk
           FROM ve qv, ve cv WHERE qv.vec_id < 3 AND qv.vec_id <> cv.vec_id),
         u AS (SELECT qid, doc_id, rk FROM lexr WHERE rk <= 10
           UNION ALL SELECT qid, doc_id, rk FROM kn WHERE rk <= 10),
         f AS (SELECT qid, doc_id,
             round(sum(1.0::DOUBLE / (60 + rk)), 6) AS rrf
           FROM u GROUP BY 1, 2),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid
             ORDER BY rrf DESC, doc_id) AS INTEGER) AS rk FROM f)
         SELECT qid, doc_id, rrf, rk FROM r WHERE rk <= 5"""

  private val oracleSqlQualityFlags: String =
    """WITH w AS (SELECT doc_id, text,
         string_split_regex(trim(lower(text)), '\s+') AS ws,
         CASE WHEN len(string_split_regex(trim(lower(text)), '\s+')) >= 3
           THEN list_distinct([array_to_string(string_split_regex(trim(lower(text)), '\s+')[i:i+2], ' ')
             for i in range(1, len(string_split_regex(trim(lower(text)), '\s+'))-1)])
           ELSE [array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' ')] END AS sh
       FROM documents),
       m AS (SELECT doc_id,
         round(1.0 - CAST(len(sh) AS DOUBLE)
           / CAST(greatest(len(ws) - 2, 1) AS DOUBLE), 6) AS rep_ratio,
         round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1), 6) AS symbol_ratio
       FROM w)
       SELECT doc_id, rep_ratio, symbol_ratio,
         (rep_ratio <= 0.3 AND symbol_ratio <= 0.2) AS keep
       FROM m"""

  private val dkDecontaminate: String =
    s"""WITH $dkBk,
       pbk AS (SELECT DISTINCT band, bucket FROM bk WHERE doc_id % 7 = 0),
       bad AS (SELECT DISTINCT bk.doc_id FROM bk JOIN pbk USING (band, bucket))
       SELECT d.doc_id, d.lang FROM documents d
       WHERE d.doc_id NOT IN (SELECT doc_id FROM bad)"""

  /** Composed curation oracle: length gate -> exact-normalized dedup
    * (min id) -> decontaminate vs the %13 probe -> split assignment.
    */
  private val dkCurate: String =
    s"""WITH $dkBk,
       q AS (SELECT doc_id, text FROM documents
         WHERE length(text) >= 250 AND length(text) <= 100000),
       ex AS (SELECT min(doc_id) AS doc_id FROM q
         GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))),
       pbk AS (SELECT DISTINCT band, bucket FROM bk WHERE doc_id % 13 = 0),
       bad AS (SELECT DISTINCT bk.doc_id FROM bk JOIN pbk USING (band, bucket)),
       fin AS (SELECT doc_id FROM ex
         WHERE doc_id NOT IN (SELECT doc_id FROM bad))
       SELECT doc_id,
         CASE WHEN h < 800000 THEN 'train'
              WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
       FROM (SELECT doc_id,
           ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000 AS h FROM fin)"""


  /** [[dkCurate]] with the substring-rewrite stage spliced between the
    * length gate and exact dedup: the dedup_substring arithmetic (gram
    * first-occurrence removal + single-space rebuild) over the planted
    * corpus, empty rewrites dropped, exact-normalized hash computed on
    * the REWRITTEN text. Probe/near-dup absent, matching the gate.
    */
  private val dkCurateSubstring: String =
    s"""WITH src AS (SELECT doc_id,
           CASE WHEN doc_id % 5 = 0
             THEN 'this document is provided as is without warranty of any kind either expressed or implied ' || text
             ELSE text END AS text
         FROM documents),
       q AS (SELECT doc_id, text FROM src
         WHERE length(text) >= 250 AND length(text) <= 100000),
       t AS (SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), w -> len(w) > 0) AS ws
         FROM q),
       gi AS (SELECT doc_id, ws,
           unnest(CASE WHEN len(ws) >= 12 THEN range(1, len(ws) - 10) ELSE [] END) AS i
         FROM t),
       g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS gpos,
           md5(array_to_string(ws[i:i+11], ' ')) AS h
         FROM gi),
       f AS (SELECT doc_id, gpos,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, gpos) AS rn,
           count(*) OVER (PARTITION BY h) AS c
         FROM g),
       cov AS (SELECT DISTINCT doc_id,
           CAST(unnest(range(gpos, gpos + 12)) AS INTEGER) AS pos
         FROM f WHERE c >= 2 AND rn > 1),
       w AS (SELECT doc_id,
           CAST(generate_subscripts(ws, 1) - 1 AS INTEGER) AS pos, unnest(ws) AS w
         FROM t),
       k AS (SELECT w.doc_id, w.pos, w.w, cov.pos IS NULL AS keep
         FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.pos),
       rw AS (SELECT doc_id,
           coalesce(string_agg(CASE WHEN keep THEN w END, ' ' ORDER BY pos), '') AS text
         FROM k GROUP BY doc_id
         HAVING length(coalesce(string_agg(CASE WHEN keep THEN w END, ' ' ORDER BY pos), '')) > 0),
       ex AS (SELECT min(doc_id) AS doc_id FROM rw
         GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')))
       SELECT doc_id,
         CASE WHEN h < 800000 THEN 'train'
              WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
       FROM (SELECT doc_id,
           ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000 AS h FROM ex)"""

  /** [[dkCurate]] with the quality ratios composed into the length-gate
    * CTE (same arithmetic as [[oracleSqlQualityFlags]]).
    */
  /** Shared datasheet oracle: the corpus inventory gate and the
    * release-composition gate replay it verbatim (the release holds
    * exactly the corpus rows).
    */
  private val dkDatasheet: String =
    s"""WITH tot AS (SELECT 'docs_total' AS metric,
             round(CAST(count(*) AS DOUBLE), 6) AS value FROM documents),
         tok AS (SELECT 'tokens_total_bpe' AS metric,
             round(CAST(sum(strlen(text)
               - (strlen(text) - strlen(replace(text, 'ab', ''))) // 2
               - (strlen(text) - strlen(replace(text, 'abc', ''))) // 3)
               AS DOUBLE), 6) AS value
           FROM documents),
         h AS (SELECT ${dkHash("text")} AS h
           FROM documents WHERE text IS NOT NULL),
         r AS (SELECT h >> 48 AS bucket,
             CASE WHEN (h & ((1::BIGINT << 48) - 1)) = 0 THEN 49
                  ELSE 49 - length(bin(h & ((1::BIGINT << 48) - 1))) END AS rank
           FROM h),
         rg AS (SELECT bucket, max(rank) AS max_rank FROM r GROUP BY bucket),
         sa AS (SELECT count(*) AS nz,
             coalesce(sum(CAST(pow(2.0, 49 - max_rank) AS HUGEINT)),
               0::HUGEINT) AS si
           FROM rg),
         est AS (SELECT 'distinct_text_estimate' AS metric,
             round(CASE WHEN (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * pow(2.0, 49.0)
                 / CAST(si + CAST(4096 - nz AS BIGINT) * CAST(pow(2.0, 49.0) AS BIGINT) AS DOUBLE)
                 <= 2.5 * 4096.0 AND 4096 - nz > 0
               THEN 4096.0 * ln(4096.0 / (4096 - nz))
               ELSE (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * pow(2.0, 49.0)
                 / CAST(si + CAST(4096 - nz AS BIGINT) * CAST(pow(2.0, 49.0) AS BIGINT) AS DOUBLE) END, 6) AS value
           FROM sa),
         hid AS (SELECT ${dkHash("CAST(doc_id AS VARCHAR)")} AS h
           FROM documents WHERE doc_id IS NOT NULL),
         rid AS (SELECT h >> 48 AS bucket,
             CASE WHEN (h & ((1::BIGINT << 48) - 1)) = 0 THEN 49
                  ELSE 49 - length(bin(h & ((1::BIGINT << 48) - 1))) END AS rank
           FROM hid),
         rgid AS (SELECT bucket, max(rank) AS max_rank FROM rid GROUP BY bucket),
         said AS (SELECT count(*) AS nz,
             coalesce(sum(CAST(pow(2.0, 49 - max_rank) AS HUGEINT)),
               0::HUGEINT) AS si
           FROM rgid),
         estid AS (SELECT 'distinct_id_estimate' AS metric,
             round(CASE WHEN (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * pow(2.0, 49.0)
                 / CAST(si + CAST(4096 - nz AS BIGINT) * CAST(pow(2.0, 49.0) AS BIGINT) AS DOUBLE)
                 <= 2.5 * 4096.0 AND 4096 - nz > 0
               THEN 4096.0 * ln(4096.0 / (4096 - nz))
               ELSE (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * pow(2.0, 49.0)
                 / CAST(si + CAST(4096 - nz AS BIGINT) * CAST(pow(2.0, 49.0) AS BIGINT) AS DOUBLE) END, 6) AS value
           FROM said),
         byg AS (SELECT concat('docs_by:', coalesce(source, '<null>')) AS metric,
             round(CAST(count(*) AS DOUBLE), 6) AS value
           FROM documents GROUP BY source)
         SELECT metric, value FROM tot
         UNION ALL SELECT metric, value FROM tok
         UNION ALL SELECT metric, value FROM est
         UNION ALL SELECT metric, value FROM estid
         UNION ALL SELECT metric, value FROM byg"""

  private val dkCurateQuality: String =
    s"""WITH $dkBk,
       src AS (SELECT doc_id,
           CASE WHEN doc_id % 11 = 0
             THEN 'junkdoc ' || CAST(doc_id AS VARCHAR) || repeat(' zz', 150)
             ELSE text END AS text
         FROM documents),
       qw AS (SELECT doc_id, text,
           string_split_regex(trim(lower(text)), '\\s+') AS ws,
           CASE WHEN len(string_split_regex(trim(lower(text)), '\\s+')) >= 3
             THEN list_distinct([array_to_string(string_split_regex(trim(lower(text)), '\\s+')[i:i+2], ' ')
               for i in range(1, len(string_split_regex(trim(lower(text)), '\\s+'))-1)])
             ELSE [array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' ')] END AS sh
         FROM src
         WHERE length(text) >= 250 AND length(text) <= 100000),
       q AS (SELECT doc_id, text FROM qw
         WHERE round(1.0 - CAST(len(sh) AS DOUBLE)
             / CAST(greatest(len(ws) - 2, 1) AS DOUBLE), 6) <= 0.3
           AND round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1), 6) <= 0.2),
       ex AS (SELECT min(doc_id) AS doc_id FROM q
         GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))),
       pbk AS (SELECT DISTINCT band, bucket FROM bk WHERE doc_id % 13 = 0),
       bad AS (SELECT DISTINCT bk.doc_id FROM bk JOIN pbk USING (band, bucket)),
       fin AS (SELECT doc_id FROM ex
         WHERE doc_id NOT IN (SELECT doc_id FROM bad))
       SELECT doc_id,
         CASE WHEN h < 800000 THEN 'train'
              WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
       FROM (SELECT doc_id,
           ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000 AS h FROM fin)"""

  private val dkSimhash: String = {
    val terms = (0 until 16).map(j =>
      s"(CASE WHEN list_sum([((x >> $j) & 1)*2 - 1 for x in hs]) > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $dkShingles,
       h AS (SELECT doc_id, [${dkHash("x")} for x in sh] AS hs FROM s)
       SELECT doc_id, CAST($terms AS BIGINT) AS simhash FROM h"""
  }

  /** Char-5-gram LSH pairs (= Dedup.minhashLshPairsChar): same sig/band
    * pipeline as [[dkLshPairs]] over code-point 5-gram shingles.
    */
  private val dkLshCharPairs: String = {
    val bucketSelects = (0 until 8).map { b =>
      s"SELECT doc_id, $b AS band, md5(concat_ws('_', sig_${2 * b}, sig_${2 * b + 1})) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    val sigs = (0 until 16).map { j =>
      val (a, b) = TextFunctions.hashParams(j)
      s"list_min([($a*x + $b) % 2147483647 for x in hs]) AS sig_$j"
    }
    s"""WITH c AS (SELECT doc_id, CASE WHEN length(text) >= 5
         THEN list_distinct([substr(text, CAST(i AS INTEGER), 5)
           for i in range(1, length(text) - 3)])
         ELSE [text] END AS sh FROM documents),
       h AS (SELECT doc_id, [${dkHash("x")} % 2147483647 for x in sh] AS hs FROM c),
       sig AS (SELECT doc_id, ${sigs.mkString(", ")} FROM h),
       bk0 AS ($bucketSelects),
       small AS (SELECT band, bucket FROM bk0 GROUP BY 1, 2
         HAVING count(*) <= 1000),
       bk AS (SELECT bk0.* FROM bk0 JOIN small USING (band, bucket))
       SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
        AND a.doc_id < b.doc_id"""
  }

  /** PSI/KS oracle over the planted drift snapshots — shared verbatim
    * by `drift_psi` (two-DataFrame form) and `streaming_drift` (the
    * stream-ingested bin artifact; counter telescoping makes them
    * equal however the stream was micro-batched).
    */
  private val dkDriftPsi: String =
    """WITH bsnap AS (SELECT CASE WHEN doc_id % 7 = 0 THEN n_chars + 80
           ELSE n_chars END AS v FROM documents WHERE doc_id % 3 <> 0),
       ca AS (SELECT LEAST(GREATEST(CAST(FLOOR(n_chars / 30.0) AS INTEGER),
           0), 19) AS bin, count(*) AS n FROM documents
         WHERE n_chars IS NOT NULL GROUP BY 1),
       cb AS (SELECT LEAST(GREATEST(CAST(FLOOR(v / 30.0) AS INTEGER),
           0), 19) AS bin, count(*) AS n FROM bsnap
         WHERE v IS NOT NULL GROUP BY 1),
       sp AS (SELECT CAST(range AS INTEGER) AS bin FROM range(0, 20)),
       bins AS (SELECT sp.bin, COALESCE(ca.n, 0) AS cnt_a,
           COALESCE(cb.n, 0) AS cnt_b
         FROM sp LEFT JOIN ca USING (bin) LEFT JOIN cb USING (bin)),
       t AS (SELECT bin, cnt_a, cnt_b,
           CAST(sum(cnt_a) OVER () AS DOUBLE) AS na,
           CAST(sum(cnt_b) OVER () AS DOUBLE) AS nb,
           CAST(sum(cnt_a) OVER (ORDER BY bin) AS DOUBLE) AS cum_a,
           CAST(sum(cnt_b) OVER (ORDER BY bin) AS DOUBLE) AS cum_b
         FROM bins),
       p AS (SELECT (cnt_a + 0.5) / (na + 10.0) AS pa,
           (cnt_b + 0.5) / (nb + 10.0) AS pb,
           abs(cum_a / na - cum_b / nb) AS gap, na, nb FROM t)
       SELECT round(sum((pa - pb) * ln(pa / pb)), 6) AS psi,
         round(max(gap), 6) AS ks,
         CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b
       FROM p"""

  /** OOV oracle over the %3 split with planted novel tokens — shared
    * verbatim by `vocab_oov` (two-DataFrame form), `vocab_index_oov`
    * (persisted-artifact probe) and `streaming_vocab` (stream-built
    * artifact): the vocabulary is a SET, and set union telescopes.
    */
  private val dkVocabOov: String =
    """WITH ref AS (SELECT DISTINCT unnest(list_filter(
           string_split_regex(trim(lower(text)), '\s+'),
           w -> len(w) > 0)) AS term
         FROM documents WHERE doc_id % 3 <> 0),
       bt AS (SELECT unnest(list_filter(string_split_regex(
           trim(lower(CASE WHEN doc_id % 9 = 0
             THEN text || ' zzznovel' || CAST(doc_id AS VARCHAR)
             ELSE text END)), '\s+'),
           w -> len(w) > 0)) AS term
         FROM documents WHERE doc_id % 3 = 0),
       bc AS (SELECT term, count(*) AS n FROM bt GROUP BY 1),
       j AS (SELECT bc.term, bc.n,
           CASE WHEN ref.term IS NULL THEN 1 ELSE 0 END AS oov
         FROM bc LEFT JOIN ref ON bc.term = ref.term)
       SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) AS n_tokens,
         count(*) AS n_types,
         CAST(COALESCE(sum(oov * n), 0) AS BIGINT) AS oov_tokens,
         CAST(COALESCE(sum(oov), 0) AS BIGINT) AS oov_types,
         round(COALESCE(sum(oov * n), 0)
           / CAST(GREATEST(COALESCE(sum(n), 0), 1) AS DOUBLE), 6)
           AS token_rate,
         round(COALESCE(sum(oov), 0)
           / CAST(GREATEST(count(*), 1) AS DOUBLE), 6) AS type_rate
       FROM j"""

  /** Oracle for `dedup_lsh_eval`: brute-force exact-Jaccard truth AND
    * the dkLshPairs minhash/band arithmetic, both over the `% mod`
    * document sample, folded into hit counts + recall/precision.
    */
  private def dkLshEvalSql(mod: Int): String = {
    val bucketSelects = (0 until 8).map { b =>
      s"SELECT doc_id, $b AS band, md5(concat_ws('_', sig_${2 * b}, sig_${2 * b + 1})) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    val sigs = (0 until 16).map { j =>
      val (a, b) = TextFunctions.hashParams(j)
      s"list_min([($a*x + $b) % 2147483647 for x in hs]) AS sig_$j"
    }
    s"""WITH w AS (SELECT doc_id, text,
         string_split_regex(trim(lower(text)), '\\s+') AS words
         FROM documents WHERE doc_id % $mod = 0),
       s AS (SELECT doc_id, CASE WHEN len(words) >= 3
           THEN list_distinct([array_to_string(words[i:i+2], ' ') for i in range(1, len(words)-1)])
           ELSE [array_to_string(words, ' ')] END AS sh FROM w),
       truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
           >= 0.3),
       h AS (SELECT doc_id, [${dkHash("x")} % 2147483647 for x in sh] AS hs FROM s),
       sig AS (SELECT doc_id, ${sigs.mkString(", ")} FROM h),
       bk AS ($bucketSelects),
       cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
          AND a.doc_id < b.doc_id),
       u AS (SELECT id_a, id_b, max(t) AS t, max(c) AS c FROM (
           SELECT id_a, id_b, 1 AS t, 0 AS c FROM truth
           UNION ALL SELECT id_a, id_b, 0, 1 FROM cand) GROUP BY 1, 2)
     SELECT CAST(COALESCE(sum(t), 0) AS BIGINT) AS n_true,
       CAST(COALESCE(sum(c), 0) AS BIGINT) AS n_cand,
       CAST(COALESCE(sum(t * c), 0) AS BIGINT) AS n_hit,
       round(COALESCE(sum(t * c), 0)
         / CAST(GREATEST(COALESCE(sum(t), 0), 1) AS DOUBLE), 6) AS recall,
       round(COALESCE(sum(t * c), 0)
         / CAST(GREATEST(COALESCE(sum(c), 0), 1) AS DOUBLE), 6) AS precision
     FROM u"""
  }

  private val dkNgramPairs: String =
    s"""WITH $dkShingles,
       a AS (SELECT doc_id, sh, list_sort(list_distinct(
           [${dkHash("x")} % 2147483647 for x in sh]))[1:4] AS anchors FROM s),
       e AS (SELECT doc_id, anchors, unnest(anchors) AS anchor FROM a),
       cand AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b
         FROM e x JOIN e y ON x.anchor = y.anchor AND x.doc_id < y.doc_id
         WHERE x.anchor = list_min(list_intersect(x.anchors, y.anchors)))
       SELECT id_a, id_b,
         round(CAST(len(list_intersect(p.sh, q.sh)) AS DOUBLE)
           / (len(p.sh) + len(q.sh) - len(list_intersect(p.sh, q.sh))), 6) AS jaccard
       FROM cand JOIN a p ON p.doc_id = id_a JOIN a q ON q.doc_id = id_b
       WHERE round(CAST(len(list_intersect(p.sh, q.sh)) AS DOUBLE)
           / (len(p.sh) + len(q.sh) - len(list_intersect(p.sh, q.sh))), 6) >= 0.3"""

  private val dkLshBucketExpr: String = (0 until 8).map { j =>
    s"(CASE WHEN list_sum([vd[k+1] * ((($j*73856093 + k*19349663) % 2000 - 1000)/1000.0) for k in range(0,64)]) >= 0 THEN ${1L << j} ELSE 0 END)"
  }.mkString(" + ")

  /** Per-plane dot products (same summation order as LshProbesExpr). */
  private val dkLshDots: String = "[" + (0 until 8).map { j =>
    s"list_sum([vd[k+1] * ((($j*73856093 + k*19349663) % 2000 - 1000)/1000.0) for k in range(0,64)])"
  }.mkString(", ") + "]"

  private val dkLshBucketFromDots: String = (0 until 8).map { j =>
    s"(CASE WHEN dots[${j + 1}] >= 0 THEN ${1L << j} ELSE 0 END)"
  }.mkString(" + ")

  private val dkStopFilter: Map[String, String] =
    TextAnalysis.Stopwords.map { case (l, ws) =>
      l -> ws.map(w => s"'$w'").mkString(", ")
    }

  // -------------------------------------------------------------------
  // Registry
  // -------------------------------------------------------------------

  /** One driver gate: the Spark query and the DuckDB SQL its result
    * must equal.
    */
  final case class Gate(run: (SparkSession, String) => DataFrame,
      oracleSql: String)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (n, g) => n -> g.run }

  def oracleSql: Map[String, String] =
    gates.map { case (n, g) => n -> g.oracleSql }

  /** The gates a comma-separated name list selects, or all of them
    * when `only` is unset. Unknown names, or a list naming none, are
    * a `Left`: a typo must never run a partial or empty suite unseen.
    */
  def select(only: Option[String]): Either[String, Map[String, Gate]] =
    only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case None => Right(gates)
      case Some(names) if names.isEmpty => Left("lists no gate")
      case Some(names) =>
        val unknown = names -- gates.keySet
        if (unknown.nonEmpty)
          Left(s"unknown gate names: ${unknown.toSeq.sorted.mkString(", ")}")
        else Right(gates.filter { case (n, _) => names(n) })
    }

  /** Mixed-media describe expectation — shared by the batch gate and
    * its stateless streaming twin.
    */
  private val dkDescribe: String =
    """WITH d AS (SELECT doc_id, doc_id % 6 AS m6,
           1 + doc_id % 2048 AS iw, 1 + (doc_id * 7) % 2048 AS ih,
           1 + doc_id % 2 AS ch, 8000 * (1 + doc_id % 5) AS rate,
           100 + doc_id % 900 AS nf,
           1 + doc_id % 14 AS br_idx, doc_id % 3 AS rate_idx,
           doc_id % 4 AS mode, doc_id % 100 AS tag_len,
           100 + doc_id % 900 AS audio_len,
           1000 * (1 + doc_id % 4) AS ts, 1000 + doc_id % 9000 AS dur,
           16 * (1 + doc_id % 120) AS vw, 16 * (1 + (doc_id * 7) % 120) AS vh,
           16 * (1 + doc_id % 100) AS ww, 16 * (1 + (doc_id * 3) % 100) AS wh,
           doc_id % 4 AS di, doc_id % 3 AS dt
         FROM documents),
         x AS (SELECT *,
           [32,40,48,56,64,80,96,112,128,160,192,224,256,320][CAST(br_idx AS INTEGER)] AS br,
           [44100,48000,32000][CAST(rate_idx + 1 AS INTEGER)] AS mrate
         FROM d),
         y AS (SELECT *, (144000 * br) // mrate AS fs FROM x),
         z AS (SELECT *, (audio_len // fs) * 1152 AS frames FROM y)
         SELECT doc_id,
           CAST(CASE m6 WHEN 0 THEN 29 WHEN 1 THEN 44
                WHEN 2 THEN 10 + tag_len + audio_len WHEN 3 THEN 152
                WHEN 4 THEN (CASE WHEN dt = 1 THEN 57 ELSE 53 END)
                ELSE 5 END AS BIGINT) AS byte_len,
           CASE m6 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                WHEN 2 THEN 'audio' WHEN 3 THEN 'video'
                WHEN 4 THEN 'video' ELSE NULL END AS kind,
           CASE m6 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' WHEN 2 THEN 'mp3'
                WHEN 3 THEN 'mp4'
                WHEN 4 THEN (CASE WHEN dt = 1 THEN 'mkv' ELSE 'webm' END)
                ELSE NULL END AS format,
           CAST(CASE m6 WHEN 0 THEN iw WHEN 3 THEN vw WHEN 4 THEN ww
                ELSE NULL END AS INTEGER) AS width,
           CAST(CASE m6 WHEN 0 THEN ih WHEN 3 THEN vh WHEN 4 THEN wh
                ELSE NULL END AS INTEGER) AS height,
           CAST(CASE m6 WHEN 1 THEN ch
                WHEN 2 THEN (CASE WHEN mode = 3 THEN 1 ELSE 2 END)
                ELSE NULL END AS INTEGER) AS channels,
           CAST(CASE m6 WHEN 1 THEN rate WHEN 2 THEN mrate
                ELSE NULL END AS INTEGER) AS sample_rate,
           CAST(CASE m6 WHEN 1 THEN (nf * 1000) // rate
                WHEN 2 THEN (frames * 1000) // mrate
                WHEN 3 THEN (dur * 1000) // ts
                WHEN 4 THEN (CASE di WHEN 0 THEN 1024 WHEN 1 THEN 2048
                     WHEN 2 THEN 4096 ELSE 8192 END)
                ELSE NULL END AS BIGINT) AS duration_ms
         FROM z"""

  /** Shared by streaming_sessionize and its RocksDB-state-store twin:
    * the provider swap must not change a single output row. */
  private lazy val dkStreamSessionizeSql: String =
    """WITH l AS (SELECT user_id, epoch_us(ts) AS tsn, value,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
         f AS (SELECT user_id, tsn, value,
             CASE WHEN prev IS NULL OR tsn - prev > 1800000000 THEN 1 ELSE 0 END AS ns
           FROM l),
         s AS (SELECT user_id, tsn, value,
             CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY tsn
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
           FROM f),
         g AS (SELECT user_id, session_idx, min(tsn) AS session_start,
             max(tsn) AS session_end, count(*) AS n_events,
             sum(value) AS value_sum
           FROM s GROUP BY 1, 2),
         m AS (SELECT user_id, max(session_idx) AS last_idx FROM g GROUP BY 1)
         SELECT g.user_id, session_start, session_end, n_events, value_sum
         FROM g JOIN m ON g.user_id = m.user_id
           AND g.session_idx < m.last_idx"""

  /** Shared by ann_ivfpq_residual and ann_index_persist: the persisted-
    * index search must hash-match the in-session IVFADC pipeline, so one
    * oracle serves both. */
  private lazy val dkIvfPqResidualSql: String =
    s"""WITH ${dkPqTrainFrom(
        """cc AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
           FROM embeddings WHERE vec_id % 100 = 0),
         v0 AS (SELECT vec_id, embedding::DOUBLE[] AS vd0 FROM embeddings),
         rranked AS (SELECT v0.vec_id, cc.centroid_id,
             row_number() OVER (PARTITION BY v0.vec_id
               ORDER BY round(list_cosine_similarity(vd0, cv), 6) DESC,
                        centroid_id) AS rn
           FROM v0, cc),
         rasg1 AS (SELECT vec_id, centroid_id FROM rranked WHERE rn = 1),
         v AS (SELECT v0.vec_id,
             [v0.vd0[CAST(i AS INTEGER)] - cc.cv[CAST(i AS INTEGER)]
               for i in range(1, 65)] AS vd
           FROM v0 JOIN rasg1 ON v0.vec_id = rasg1.vec_id
           JOIN cc ON cc.centroid_id = rasg1.centroid_id)""")},
         a AS (SELECT code,
             [round(x, 6) for x in flatten(list(cv ORDER BY sub))] AS av
           FROM tc GROUP BY code),
         $dkPqEncTail,
         rasgp AS (SELECT vec_id, centroid_id FROM rranked WHERE rn <= 2),
         sub AS (SELECT e.vec_id, e.j,
             [a.av[CAST(e.j*8+i+1 AS INTEGER)] for i in range(0,8)] AS sv
           FROM enc e JOIN a ON a.code = e.code),
         reconr AS (SELECT vec_id, flatten(list(sv ORDER BY j)) AS rres
           FROM sub GROUP BY vec_id),
         recon AS (SELECT r.vec_id,
             [r.rres[CAST(i AS INTEGER)] + cc.cv[CAST(i AS INTEGER)]
               for i in range(1, 65)] AS rv
           FROM reconr r JOIN rasg1 ON r.vec_id = rasg1.vec_id
           JOIN cc ON cc.centroid_id = rasg1.centroid_id),
         sc AS (SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(qv.vd0, r.rv), 6) AS cos_sim
           FROM rasgp p JOIN rasg1 b ON p.centroid_id = b.centroid_id
             AND p.vec_id <> b.vec_id
           JOIN v0 qv ON qv.vec_id = p.vec_id
           JOIN recon r ON r.vec_id = b.vec_id
           WHERE p.vec_id < 10),
         rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS knn_rank
           FROM sc)
         SELECT query_id, neighbor_id, cos_sim, knn_rank FROM rk
         WHERE knn_rank <= 5"""

  lazy val gates: Map[String, Gate] = Map(
    "q1_agg" -> Gate(qAgg,
      "SELECT l_returnflag, sum(l_quantity) AS sum_qty FROM lineitem GROUP BY 1"),
    "q2_star_join" -> Gate(qStarJoin,
      """SELECT n_name, sum(l_extendedprice * (1.0 - l_discount)) AS revenue,
         count(*) AS n_lineitems
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1"""),
    "q3_window_topn" -> Gate(qWindowTopN,
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
           FROM orders)
         WHERE rn <= 3"""),
    "to_long_array" -> Gate(toLongArray,
      """SELECT vec_id, label,
         CAST(generate_subscripts(embedding,1)-1 AS INTEGER) AS embedding_level0,
         unnest(embedding) AS embedding
         FROM embeddings"""),
    "to_long_map" -> Gate(toLongMap,
      """SELECT event_id, k AS props_level0,
         CAST(json_extract_string(props, '$.' || k) AS BIGINT) AS props
         FROM (SELECT event_id, props, unnest(json_keys(props)) AS k FROM events)"""),
    "to_long_nested" -> Gate(toLongNested,
      """WITH t AS (SELECT vec_id,
             [embedding[(i*8+1):(i*8+8)] for i in range(0,8)] AS m
           FROM embeddings),
         l1 AS (SELECT vec_id,
             CAST(generate_subscripts(m,1)-1 AS INTEGER) AS m_level0,
             unnest(m) AS xs FROM t)
         SELECT vec_id, m_level0,
           CAST(generate_subscripts(xs,1)-1 AS INTEGER) AS m_level1,
           unnest(xs) AS m
         FROM l1"""),
    "to_long_multi" -> Gate(toLongMulti,
      """WITH t AS (SELECT vec_id, embedding[1:3] AS x, embedding[5:7] AS y FROM embeddings),
         lx AS (SELECT vec_id, CAST(generate_subscripts(x,1)-1 AS INTEGER) AS x_level0, unnest(x) AS x FROM t),
         ly AS (SELECT vec_id, CAST(generate_subscripts(y,1)-1 AS INTEGER) AS y_level0, unnest(y) AS y FROM t)
         SELECT vec_id, x_level0, x, y_level0, y FROM lx FULL JOIN ly USING (vec_id)"""),
    "to_long_multi4" -> Gate(toLongMulti4,
      """WITH t AS (SELECT vec_id, embedding[1:2] AS x, embedding[9:10] AS y,
             embedding[17:18] AS z, embedding[25:26] AS w FROM embeddings),
         lx AS (SELECT vec_id, CAST(generate_subscripts(x,1)-1 AS INTEGER) AS x_level0, unnest(x) AS x FROM t),
         ly AS (SELECT vec_id, CAST(generate_subscripts(y,1)-1 AS INTEGER) AS y_level0, unnest(y) AS y FROM t),
         lz AS (SELECT vec_id, CAST(generate_subscripts(z,1)-1 AS INTEGER) AS z_level0, unnest(z) AS z FROM t),
         lw AS (SELECT vec_id, CAST(generate_subscripts(w,1)-1 AS INTEGER) AS w_level0, unnest(w) AS w FROM t)
         SELECT vec_id, x_level0, x, y_level0, y, z_level0, z, w_level0, w
         FROM lx FULL JOIN ly USING (vec_id) FULL JOIN lz USING (vec_id)
         FULL JOIN lw USING (vec_id)"""),
    "to_long_shared" -> Gate(toLongShared,
      """WITH t AS (SELECT vec_id, embedding[1:3] AS x, embedding[5:7] AS y FROM embeddings),
         lx AS (SELECT vec_id, CAST(generate_subscripts(x,1)-1 AS INTEGER) AS axis, unnest(x) AS x FROM t),
         ly AS (SELECT vec_id, CAST(generate_subscripts(y,1)-1 AS INTEGER) AS axis, unnest(y) AS y FROM t)
         SELECT vec_id, axis, x, y FROM lx FULL JOIN ly USING (vec_id, axis)"""),
    "to_long_scalar" -> Gate(toLongScalar,
      "SELECT doc_id, n_chars, lang FROM documents"),
    "to_long_struct" -> Gate(toLongStruct,
      """WITH s AS (SELECT l_orderkey,
             CAST(row_number() OVER (PARTITION BY l_orderkey
               ORDER BY l_quantity, l_discount) - 1 AS INTEGER) AS item_level0_0,
             l_quantity, l_discount
           FROM lineitem)
         SELECT l_orderkey, item_level0_0, 'l_quantity' AS item_level0_1,
                l_quantity AS item FROM s
         UNION ALL
         SELECT l_orderkey, item_level0_0, 'l_discount' AS item_level0_1,
                l_discount AS item FROM s"""),
    "expand_col" -> Gate(expandColQ,
      """SELECT l_orderkey,
         CAST(row_number() OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_quantity, l_extendedprice) - 1 AS INTEGER) AS level_1,
         l_linenumber, l_quantity, l_extendedprice FROM lineitem"""),
    "expand_col_named" -> Gate(expandColNamed,
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem"),
    "to_puffy" -> Gate(toPuffyQ,
      """SELECT l_orderkey,
         array_to_string([CAST(x AS VARCHAR) for x in list(l_linenumber ORDER BY l_linenumber)], ',') AS l_linenumber,
         array_to_string([printf('%.6f', round(x, 6)) for x in list(l_quantity ORDER BY l_quantity)], ',') AS l_quantity
         FROM lineitem GROUP BY l_orderkey"""),
    "to_puffy_native" -> Gate(toPuffyNative,
      """SELECT l_orderkey,
         CAST(count(*) AS INTEGER) AS ln_n,
         min(l_linenumber) AS ln_first,
         max(l_linenumber) AS ln_last,
         min(l_quantity) AS qty_min,
         max(l_quantity) AS qty_max
         FROM lineitem GROUP BY l_orderkey"""),
    "to_puffy_agg" -> Gate(toPuffyAgg,
      """SELECT l_returnflag, avg(l_quantity) AS l_quantity,
         avg(l_extendedprice) AS l_extendedprice
         FROM lineitem GROUP BY 1"""),
    "to_puffy_geomean" -> Gate(toPuffyGeomean,
      """SELECT l_returnflag, round(exp(avg(ln(l_quantity))), 6) AS l_quantity
         FROM lineitem GROUP BY 1"""),
    "to_puffy_dict" -> Gate(toPuffyDict,
      """SELECT l_returnflag, avg(l_quantity) AS l_quantity,
         max(l_extendedprice) AS l_extendedprice
         FROM lineitem GROUP BY 1"""),
    "assign_index" -> Gate(assignIndexQ,
      """SELECT CAST(length(c_name) AS INTEGER) AS name_len,
         avg(c_acctbal) AS c_acctbal
         FROM customer GROUP BY 1"""),
    "shortcut_long" -> Gate(shortcutLongQ,
      """SELECT vec_id, label,
         CAST(generate_subscripts(embedding,1)-1 AS INTEGER) AS embedding_level0,
         unnest(embedding) AS embedding
         FROM embeddings"""),
    "multid_pivot" -> Gate(multidPivotQ,
      """SELECT l_returnflag, l_linestatus,
         avg(l_extendedprice) AS l_extendedprice
         FROM lineitem GROUP BY 1, 2"""),
    "multid_pivot_agg" -> Gate(multidPivotAgg,
      """SELECT l_returnflag, l_linestatus,
         max(l_extendedprice) AS l_extendedprice,
         sum(l_quantity) AS l_quantity
         FROM lineitem GROUP BY 1, 2"""),
    "multid_pivot_wide" -> Gate(multidPivotWideQ,
      """SELECT l_returnflag,
         avg(CASE WHEN l_linestatus='F' THEN l_extendedprice END) AS F,
         avg(CASE WHEN l_linestatus='O' THEN l_extendedprice END) AS O
         FROM lineitem GROUP BY 1"""),
    "col_apply" -> Gate(colApplyQ,
      "SELECT c_custkey, c_name, upper(c_name) AS c_name_upper FROM customer"),
    "row_apply" -> Gate(rowApplyQ,
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount,
         l_extendedprice * (1 - l_discount) AS revenue FROM lineitem"""),
    "getitem_select" -> Gate(getitemQ,
      "SELECT p_partkey, p_name, p_retailprice FROM part"),
    "frame_props" -> Gate(framePropsQ,
      """SELECT p_partkey, p_name, p_retailprice,
         'p_name,p_retailprice' AS datacols_csv,
         'p_partkey' AS indexcols_csv
         FROM part"""),
    "drop_rename" -> Gate(dropRenameQ,
      "SELECT s_suppkey, s_name AS supplier_name, s_nationkey FROM supplier"),
    "to_long_expand" -> Gate(toLongExpand,
      """SELECT l_orderkey,
         CAST(row_number() OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_quantity) - 1 AS INTEGER) AS level_1,
         l_linenumber AS items_l_linenumber,
         l_quantity AS items_l_quantity FROM lineitem"""),
    "puffy_roundtrip" -> Gate(puffyRoundtrip,
      """SELECT l_orderkey,
         CAST(row_number() OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_quantity) - 1 AS INTEGER) AS level_1,
         l_linenumber, l_quantity FROM lineitem"""),
    "to_long_mixed" -> Gate(toLongMixed,
      """WITH src AS (SELECT doc_id,
           CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN '[' || n_chars || ',' || doc_id || ']'
             WHEN 1 THEN '{"a":' || n_chars || ',"b":"' || lang || '"}'
             ELSE CAST(n_chars AS VARCHAR) END AS j
         FROM documents),
         l1 AS (
           SELECT doc_id, CAST(u AS VARCHAR) AS v_level0,
             json_extract(j, '$[' || u || ']')::VARCHAR AS v
           FROM (SELECT doc_id, j,
               unnest(range(0, CAST(json_array_length(j) AS BIGINT))) AS u
             FROM src WHERE doc_id % 3 = 0)
           UNION ALL
           SELECT doc_id, k AS v_level0,
             json_extract(j, '$.' || k)::VARCHAR AS v
           FROM (SELECT doc_id, j, unnest(json_keys(j)) AS k
             FROM src WHERE doc_id % 3 = 1)
           UNION ALL
           SELECT doc_id, CAST(NULL AS VARCHAR) AS v_level0, j AS v
           FROM src WHERE doc_id % 3 = 2)
         SELECT doc_id, v_level0, CAST(NULL AS VARCHAR) AS v_level1, v
         FROM l1"""),
    "to_long_variant" -> Gate(toLongVariant,
      """WITH src AS (SELECT doc_id,
           CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN '[' || n_chars || ',' || doc_id || ']'
             WHEN 1 THEN '{"a":' || n_chars || ',"b":"' || lang || '"}'
             ELSE CAST(n_chars AS VARCHAR) END AS j
         FROM documents),
         l1 AS (
           SELECT doc_id, CAST(u AS VARCHAR) AS v_level0,
             json_extract(j, '$[' || u || ']')::VARCHAR AS v
           FROM (SELECT doc_id, j,
               unnest(range(0, CAST(json_array_length(j) AS BIGINT))) AS u
             FROM src WHERE doc_id % 3 = 0)
           UNION ALL
           SELECT doc_id, k AS v_level0,
             json_extract(j, '$.' || k)::VARCHAR AS v
           FROM (SELECT doc_id, j, unnest(json_keys(j)) AS k
             FROM src WHERE doc_id % 3 = 1)
           UNION ALL
           SELECT doc_id, CAST(NULL AS VARCHAR) AS v_level0, j AS v
           FROM src WHERE doc_id % 3 = 2)
         SELECT doc_id, v_level0, CAST(NULL AS VARCHAR) AS v_level1, v
         FROM l1"""),
    "identifier_sanitize" -> Gate(identifierSanitize,
      """SELECT p_partkey AS part_key, p_name AS part_HASH_name,
         p_retailprice AS retail_DOT_price FROM part"""),
    "dedup_exact" -> Gate(dedupExact,
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
         count(*) AS dup_count FROM documents GROUP BY 1"""),
    "dedup_exact_norm" -> Gate(dedupExactNorm,
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS text_hash,
         min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents GROUP BY 1"""),
    "dedup_lines" -> Gate(dedupLinesQ,
      """WITH src AS (SELECT doc_id,
             regexp_replace(text, '((?:\S+ ){5}\S+) ', '\1' || chr(10), 'g') AS t
           FROM documents),
         l AS (SELECT doc_id,
             CAST(generate_subscripts(ls, 1) - 1 AS INTEGER) AS pos,
             unnest(ls) AS line
           FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM src)),
         f AS (SELECT doc_id, pos, line,
             (length(trim(line)) < 1) OR
             (row_number() OVER (PARTITION BY md5(line)
                ORDER BY doc_id, pos) = 1) AS keep
           FROM l)
         SELECT doc_id,
           coalesce(string_agg(CASE WHEN keep THEN line END,
             chr(10) ORDER BY pos), '') AS text_kept,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
           CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_lines_dropped
         FROM f GROUP BY doc_id"""),
    "dedup_substring" -> Gate(dedupSubstringQ,
      """WITH src AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
               THEN 'this document is provided as is without warranty of any kind either expressed or implied ' || text
               ELSE text END AS text
           FROM documents),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0) AS ws
           FROM src),
         gi AS (SELECT doc_id, ws,
             unnest(CASE WHEN len(ws) >= 12 THEN range(1, len(ws) - 10) ELSE [] END) AS i
           FROM t),
         g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS gpos,
             CAST(concat('0x', substr(md5(array_to_string(ws[i:i+11], ' ')), 1, 15)) AS BIGINT) AS h
           FROM gi),
         f AS (SELECT doc_id, gpos,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, gpos) AS rn,
             count(*) OVER (PARTITION BY h) AS c
           FROM g),
         cov AS (SELECT DISTINCT doc_id,
             CAST(unnest(range(gpos, gpos + 12)) AS INTEGER) AS pos
           FROM f WHERE c >= 2 AND rn > 1),
         w AS (SELECT doc_id,
             CAST(generate_subscripts(ws, 1) - 1 AS INTEGER) AS pos, unnest(ws) AS w
           FROM t),
         k AS (SELECT w.doc_id, w.pos, w.w, cov.pos IS NULL AS keep
           FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.pos),
         agg AS (SELECT doc_id,
             coalesce(string_agg(CASE WHEN keep THEN w END, ' ' ORDER BY pos), '') AS text_kept,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_words_kept,
             CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_words_dropped
           FROM k GROUP BY doc_id)
         SELECT t.doc_id, coalesce(agg.text_kept, '') AS text_kept,
           coalesce(agg.n_words_kept, 0) AS n_words_kept,
           coalesce(agg.n_words_dropped, 0) AS n_words_dropped
         FROM t LEFT JOIN agg USING (doc_id)"""),
    "dedup_index_substring" ->
      Gate(dedupIndexSubstringQ, dkDedupIndexSubstring),
    "streaming_substring_index" ->
      Gate(streamingSubstringIndexQ, dkDedupIndexSubstring),
    // compaction parity: the compacted run must equal the family's
    // from-scratch replay, so the oracle is shared verbatim
    "dedup_index_compact_substring" ->
      Gate(dedupIndexCompactSubQ, dkDedupIndexSubstring),
    "sketch_cms" -> Gate(sketchCmsQ, dkCmsCounters),
    "sketch_cms_merge" -> Gate(sketchCmsMergeQ, dkCmsCounters),
    "streaming_cms" -> Gate(streamingCmsQ, dkCmsCounters),
    "sample_bottomk" -> Gate(sampleBottomkQ, dkBottomK),
    "sample_bottomk_merge" -> Gate(sampleBottomkMergeQ, dkBottomK),
    "streaming_sample_index" -> Gate(streamingSampleIndexQ, dkBottomK),
    "sketch_cms_point" -> Gate(sketchCmsPointQ,
      """WITH w AS (SELECT unnest(list_filter(
             string_split_regex(trim(lower(text)), '\s+'),
             x -> len(x) > 0)) AS w
           FROM documents WHERE text IS NOT NULL),
         ex AS (SELECT w, CAST(count(*) AS BIGINT) AS exact_cnt
           FROM w GROUP BY 1),
         top AS (SELECT w, exact_cnt FROM ex
           ORDER BY exact_cnt DESC, w LIMIT 10),
         rb AS (SELECT j,
             CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), ':', w.w)),1,15)) AS BIGINT)
               % 1024 AS bucket
           FROM w, (VALUES (0),(1),(2),(3)) t(j)),
         cms AS (SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM rb GROUP BY 1, 2),
         probe AS (SELECT top.w, top.exact_cnt, t.j,
             CAST(concat('0x', substr(md5(concat(CAST(t.j AS VARCHAR), ':', top.w)),1,15)) AS BIGINT)
               % 1024 AS bucket
           FROM top, (VALUES (0),(1),(2),(3)) t(j))
         SELECT probe.w, probe.exact_cnt,
           CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS est
         FROM probe LEFT JOIN cms
           ON probe.j = cms.j AND probe.bucket = cms.bucket
         GROUP BY 1, 2"""),
    "sketch_hll" -> Gate(sketchHllQ, dkHllRegisters),
    "sketch_hll_overlap" -> Gate(sketchHllOverlapQ,
      s"""WITH ha AS (SELECT ${dkHash("text")} AS h FROM documents
             WHERE text IS NOT NULL AND doc_id % 2 = 0),
         hb AS (SELECT ${dkHash("text")} AS h FROM documents
             WHERE text IS NOT NULL AND doc_id % 2 <> 0),
         ga AS (SELECT h >> 48 AS bucket,
             max(CASE WHEN (h & ((1::BIGINT << 48) - 1)) = 0 THEN 49
                 ELSE 49 - length(bin(h & ((1::BIGINT << 48) - 1))) END) AS ra
           FROM ha GROUP BY 1),
         gb AS (SELECT h >> 48 AS bucket,
             max(CASE WHEN (h & ((1::BIGINT << 48) - 1)) = 0 THEN 49
                 ELSE 49 - length(bin(h & ((1::BIGINT << 48) - 1))) END) AS rb
           FROM hb GROUP BY 1),
         j AS (SELECT ga.ra, gb.rb
           FROM ga FULL JOIN gb ON ga.bucket = gb.bucket),
         agg AS (SELECT
             count(ra) AS nza,
             coalesce(sum(CASE WHEN ra IS NOT NULL
               THEN CAST(pow(2.0, 49 - ra) AS HUGEINT) END), 0::HUGEINT) AS sa,
             count(rb) AS nzb,
             coalesce(sum(CASE WHEN rb IS NOT NULL
               THEN CAST(pow(2.0, 49 - rb) AS HUGEINT) END), 0::HUGEINT) AS sb,
             count(*) AS nzu,
             coalesce(sum(CAST(pow(2.0,
               49 - greatest(coalesce(ra, 0), coalesce(rb, 0))) AS HUGEINT)),
               0::HUGEINT) AS su
           FROM j),
         e AS (SELECT CAST(4096 AS BIGINT) AS m,
             CASE WHEN (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * pow(2.0, 49.0)
                 / CAST(sa + CAST(4096 - nza AS BIGINT) * CAST(pow(2.0, 49.0) AS BIGINT) AS DOUBLE)
                 <= 2.5 * 4096.0 AND 4096 - nza > 0
               THEN 4096.0 * ln(4096.0 / (4096 - nza))
               ELSE (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * pow(2.0, 49.0)
                 / CAST(sa + CAST(4096 - nza AS BIGINT) * CAST(pow(2.0, 49.0) AS BIGINT) AS DOUBLE) END AS est_a,
             CASE WHEN (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * pow(2.0, 49.0)
                 / CAST(sb + CAST(4096 - nzb AS BIGINT) * CAST(pow(2.0, 49.0) AS BIGINT) AS DOUBLE)
                 <= 2.5 * 4096.0 AND 4096 - nzb > 0
               THEN 4096.0 * ln(4096.0 / (4096 - nzb))
               ELSE (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * pow(2.0, 49.0)
                 / CAST(sb + CAST(4096 - nzb AS BIGINT) * CAST(pow(2.0, 49.0) AS BIGINT) AS DOUBLE) END AS est_b,
             CASE WHEN (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * pow(2.0, 49.0)
                 / CAST(su + CAST(4096 - nzu AS BIGINT) * CAST(pow(2.0, 49.0) AS BIGINT) AS DOUBLE)
                 <= 2.5 * 4096.0 AND 4096 - nzu > 0
               THEN 4096.0 * ln(4096.0 / (4096 - nzu))
               ELSE (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * pow(2.0, 49.0)
                 / CAST(su + CAST(4096 - nzu AS BIGINT) * CAST(pow(2.0, 49.0) AS BIGINT) AS DOUBLE) END AS est_u
           FROM agg)
         , f AS (SELECT m, est_a, est_b, est_u,
             greatest(0.0, est_a + est_b - est_u) AS est_i FROM e)
         SELECT m, round(est_a, 6) AS est_a, round(est_b, 6) AS est_b,
           round(est_u, 6) AS est_union,
           round(est_i, 6) AS est_intersection,
           round(CASE WHEN est_u > 0 THEN est_i / est_u ELSE 0.0 END, 6)
             AS est_jaccard,
           round(CASE WHEN est_a > 0 THEN est_i / est_a ELSE 0.0 END, 6)
             AS containment_a,
           round(CASE WHEN est_b > 0 THEN est_i / est_b ELSE 0.0 END, 6)
             AS containment_b
         FROM f"""),
    "corpus_datasheet" -> Gate(corpusDatasheetQ, dkDatasheet),
    // inventory of a PUBLISHED snapshot == inventory of its corpus
    "release_datasheet" -> Gate(releaseDatasheetQ, dkDatasheet),
    "sketch_hll_merge" -> Gate(sketchHllMergeQ, dkHllRegisters),
    "streaming_sketch" -> Gate(streamingSketchQ, dkHllRegisters),
    "sketch_quantile" -> Gate(sketchQuantileQ, dkQuantileSketch),
    "sketch_kll" -> Gate(sketchKllQ, dkKllBuild(16)),
    "sketch_kll_estimate" -> Gate(sketchKllEstimateQ, dkKllEstimate(16)),
    "sketch_kll_merge" ->
      Gate(sketchKllMergeQ, dkKllMerge("doc_id % 2 = 0", "doc_id % 2 = 1", 16)),
    // the stream's one micro-batch makes ingest = the two-half merge
    "streaming_kll" ->
      Gate(streamingKllQ, dkKllMerge("doc_id % 3 <> 0", "doc_id % 3 = 0", 16)),
    "sketch_kll_sharded" -> Gate(sketchKllShardedQ, dkKllSharded(4, 16)),
    "curate_adaptive_quality" -> Gate(curateAdaptiveQualityQ,
      s"""WITH sk AS (${dkKllSharded(4, 16)}),
         cwq AS (SELECT lang, value,
             CAST(sum(n * (1::BIGINT << level)) OVER (PARTITION BY lang
               ORDER BY value, level
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS c,
             CAST(sum(n * (1::BIGINT << level)) OVER (PARTITION BY lang)
               AS BIGINT) AS nn
           FROM sk),
         cut AS (SELECT lang,
             min(CASE WHEN c * 2 >= nn THEN value END) AS p50
           FROM cwq GROUP BY 1)
         SELECT d.doc_id, d.lang, d.n_chars
         FROM documents d JOIN cut USING (lang)
         WHERE d.n_chars >= cut.p50"""),
    // per-group bottom-k telescopes across any split/micro-batching —
    // both artifact gates share the from-scratch oracle verbatim
    "sketch_quantile_merge" -> Gate(sketchQuantileMergeQ, dkQuantileSketch),
    "streaming_quantile" -> Gate(streamingQuantileQ, dkQuantileSketch),
    "sketch_hll_grouped" -> Gate(sketchHllGroupedQ,
      s"""WITH h AS (SELECT source, ${dkHash("text")} AS h
             FROM documents WHERE text IS NOT NULL),
         r AS (SELECT source, h >> 48 AS bucket,
             CASE WHEN (h & ((1::BIGINT << 48) - 1)) = 0 THEN 49
                  ELSE 49 - length(bin(h & ((1::BIGINT << 48) - 1))) END AS rank
           FROM h),
         rg AS (SELECT source, bucket, max(rank) AS max_rank
           FROM r GROUP BY 1, 2),
         s AS (SELECT source, count(*) AS nz,
             sum(CAST(pow(2.0, 49 - max_rank) AS HUGEINT)) AS si
           FROM rg GROUP BY 1),
         e AS (SELECT source, CAST(4096 AS BIGINT) AS m,
             CAST(4096 - nz AS BIGINT) AS v_zero,
             (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0
               * pow(2.0, 49.0)
               / CAST(si + CAST(4096 - nz AS BIGINT)
                   * CAST(pow(2.0, 49.0) AS BIGINT) AS DOUBLE) AS raw
           FROM s)
         SELECT source, m, v_zero, round(raw, 6) AS raw_estimate,
           round(CASE WHEN raw <= 2.5 * 4096.0 AND v_zero > 0
             THEN 4096.0 * ln(4096.0 / v_zero) ELSE raw END, 6) AS estimate
         FROM e"""),
    "sketch_hll_estimate" -> Gate(sketchHllEstimateQ,
      s"""WITH h AS (SELECT ${dkHash("text")} AS h
             FROM documents WHERE text IS NOT NULL),
         r AS (SELECT h >> 48 AS bucket,
             CASE WHEN (h & ((1::BIGINT << 48) - 1)) = 0 THEN 49
                  ELSE 49 - length(bin(h & ((1::BIGINT << 48) - 1))) END AS rank
           FROM h),
         rg AS (SELECT bucket, max(rank) AS max_rank FROM r GROUP BY bucket),
         s AS (SELECT count(*) AS nz,
             coalesce(sum(CAST(pow(2.0, 49 - max_rank) AS HUGEINT)),
               0::HUGEINT) AS si
           FROM rg),
         e AS (SELECT CAST(4096 AS BIGINT) AS m,
             CAST(4096 - nz AS BIGINT) AS v_zero,
             (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0
               * pow(2.0, 49.0)
               / CAST(si + CAST(4096 - nz AS BIGINT)
                   * CAST(pow(2.0, 49.0) AS BIGINT) AS DOUBLE) AS raw
           FROM s)
         SELECT m, v_zero, round(raw, 6) AS raw_estimate,
           round(CASE WHEN raw <= 2.5 * 4096.0 AND v_zero > 0
             THEN 4096.0 * ln(4096.0 / v_zero) ELSE raw END, 6) AS estimate
         FROM e"""),
    "dedup_substring_bpe" -> Gate(dedupSubstringBpeQ,
      """WITH src AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
               THEN 'licensetermsapplytoallcopiesofthisdocumentnowarrantyisexpressedorimplied' || text
               ELSE text END AS text
           FROM documents),
         t AS (SELECT doc_id, list_transform(
             string_split(replace(replace(text, 'abc', chr(1)), 'ab', chr(2)), ''),
             c -> CAST(CASE WHEN c = chr(1) THEN 257
                            WHEN c = chr(2) THEN 256
                            ELSE ascii(c) END AS INTEGER)) AS ids
           FROM src),
         gi AS (SELECT doc_id, ids,
             unnest(CASE WHEN len(ids) >= 40 THEN range(1, len(ids) - 38) ELSE [] END) AS i
           FROM t),
         g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS gpos,
             md5(array_to_string(ids[i:i+39], ',')) AS h
           FROM gi),
         f AS (SELECT doc_id, gpos,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, gpos) AS rn,
             count(*) OVER (PARTITION BY h) AS c
           FROM g),
         cov AS (SELECT DISTINCT doc_id,
             CAST(unnest(range(gpos, gpos + 40)) AS INTEGER) AS pos
           FROM f WHERE c >= 2 AND rn > 1),
         w AS (SELECT doc_id,
             CAST(generate_subscripts(ids, 1) - 1 AS INTEGER) AS pos, unnest(ids) AS id
           FROM t),
         k AS (SELECT w.doc_id, w.pos, w.id, cov.pos IS NULL AS keep
           FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.pos),
         agg AS (SELECT doc_id,
             coalesce(string_agg(CASE WHEN keep THEN
                 CASE WHEN id = 257 THEN 'abc' WHEN id = 256 THEN 'ab'
                      ELSE chr(id) END END, '' ORDER BY pos), '') AS text_kept,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_tokens_kept,
             CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_tokens_dropped
           FROM k GROUP BY doc_id)
         SELECT t.doc_id, coalesce(agg.text_kept, '') AS text_kept,
           coalesce(agg.n_tokens_kept, 0) AS n_tokens_kept,
           coalesce(agg.n_tokens_dropped, 0) AS n_tokens_dropped
         FROM t LEFT JOIN agg USING (doc_id)"""),
    "strip_boilerplate" -> Gate(stripBoilerplateQ,
      """WITH src AS (SELECT doc_id,
             '12345 67890 2024' || chr(10) || 'ok' || chr(10) ||
             regexp_replace(text, '((?:\S+ ){5}\S+) ', '\1' || chr(10), 'g') AS t
           FROM documents),
         l AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM src),
         k AS (SELECT doc_id, ls, list_filter(ls, x ->
             len(list_filter(string_split_regex(x, '\s+'), w -> len(w) > 0)) >= 3
             AND CAST(length(regexp_replace(x, '[^0-9]', '', 'g')) AS DOUBLE)
               / greatest(length(regexp_replace(x, '\s', '', 'g')), 1) <= 0.5
           ) AS ks FROM l)
         SELECT doc_id, array_to_string(ks, chr(10)) AS text_clean,
           CAST(len(ks) AS BIGINT) AS n_lines_kept,
           CAST(len(ls) - len(ks) AS BIGINT) AS n_lines_dropped
         FROM k"""),
    "dedup_keep_best" -> Gate(dedupKeepBestQ,
      """WITH h AS (SELECT doc_id, n_chars,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS text_hash
           FROM documents),
         r AS (SELECT *,
             row_number() OVER (PARTITION BY text_hash
               ORDER BY n_chars DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY text_hash) AS dup_count
           FROM h)
         SELECT text_hash, doc_id AS keep_id, n_chars AS keep_score,
           dup_count FROM r WHERE rn = 1"""),
    "dedup_semantic" -> Gate(semanticDedupQ,
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, vd AS cv FROM v WHERE vec_id % 100 = 0),
         asg AS (SELECT vec_id, vd, centroid_id FROM (
             SELECT v.vec_id, v.vd, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.vd, c.cv), 6) DESC,
                          c.centroid_id) AS rn
             FROM v, c) WHERE rn = 1)
         SELECT a.vec_id, a.centroid_id FROM asg a
         WHERE NOT EXISTS (SELECT 1 FROM asg b
           WHERE b.centroid_id = a.centroid_id AND b.vec_id < a.vec_id
             AND round(list_cosine_similarity(a.vd, b.vd), 6) >= 0.3)"""),
    "repetition_scores" -> Gate(repetitionScoresQ,
      """WITH src AS (SELECT doc_id,
             regexp_replace(text, '((?:\S+ ){5}\S+) ', '\1' || chr(10), 'g') AS t0
           FROM documents),
         src2 AS (SELECT doc_id,
             t0 || chr(10) || string_split(t0, chr(10))[1] AS t FROM src),
         l AS (SELECT doc_id, line FROM (SELECT doc_id,
               unnest(string_split(t, chr(10))) AS line FROM src2)
           WHERE regexp_matches(line, '[^\x00-\x20]')),
         lc AS (SELECT doc_id, line, count(*) AS c, length(line) AS len
           FROM l GROUP BY 1, 2),
         lstats AS (SELECT doc_id,
             round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 6) AS dup_line_frac,
             round(CAST(sum((c - 1) * len) AS DOUBLE) / sum(c * len), 6) AS dup_line_char_frac
           FROM lc GROUP BY 1),
         w AS (SELECT doc_id, length(t) AS tlen,
             string_split_regex(regexp_replace(lower(t),
               '^[\x00-\x20]+|[\x00-\x20]+$', '', 'g'), '[\s\x0b]+') AS ws
           FROM src2),
         g2 AS (SELECT doc_id, tlen, unnest(list_transform(range(1, len(ws)),
             i -> ws[i] || ' ' || ws[i + 1])) AS g
           FROM w WHERE len(ws) >= 2),
         g2c AS (SELECT doc_id, tlen, g, count(*) AS c FROM g2 GROUP BY 1, 2, 3),
         g2t AS (SELECT doc_id,
             round(CAST(c * length(g) AS DOUBLE) / tlen, 6) AS v,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY c DESC, length(g) DESC, g DESC) AS rn FROM g2c),
         g3 AS (SELECT doc_id, tlen, unnest(list_transform(range(1, len(ws) - 1),
             i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS g
           FROM w WHERE len(ws) >= 3),
         g3c AS (SELECT doc_id, tlen, g, count(*) AS c FROM g3 GROUP BY 1, 2, 3),
         g3t AS (SELECT doc_id,
             round(CAST(c * length(g) AS DOUBLE) / tlen, 6) AS v,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY c DESC, length(g) DESC, g DESC) AS rn FROM g3c)
         SELECT s.doc_id,
           coalesce(ls.dup_line_frac, 0) AS dup_line_frac,
           coalesce(ls.dup_line_char_frac, 0) AS dup_line_char_frac,
           coalesce(t2.v, 0) AS top_2gram_char_frac,
           coalesce(t3.v, 0) AS top_3gram_char_frac
         FROM src2 s
         LEFT JOIN lstats ls USING (doc_id)
         LEFT JOIN (SELECT doc_id, v FROM g2t WHERE rn = 1) t2 USING (doc_id)
         LEFT JOIN (SELECT doc_id, v FROM g3t WHERE rn = 1) t3 USING (doc_id)"""),
    "winnow_fingerprint" -> Gate(winnowQ,
      """WITH g AS (SELECT doc_id,
             CASE WHEN length(text) < 7 THEN [text]
                  ELSE list_transform(range(1, length(text) - 5),
                    i -> substr(text, i, 7)) END AS grams
           FROM documents),
         h AS (SELECT doc_id, list_transform(grams,
             g -> CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)) AS hs
           FROM g),
         wm AS (SELECT doc_id,
             CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
                  ELSE list_transform(range(1, len(hs) - 2),
                    i -> list_min(hs[i:i + 3])) END AS mins
           FROM h)
         SELECT doc_id, unnest(list_sort(list_distinct(mins))) AS fingerprint
         FROM wm"""),
    "winnow_pairs" -> Gate(winnowPairsQ,
      s"""WITH src AS (SELECT doc_id,
             CASE WHEN doc_id % 97 = 0 THEN text || ' $winnowPassage'
                  ELSE text END AS text
           FROM documents),
         g AS (SELECT doc_id,
             CASE WHEN length(text) < 7 THEN [text]
                  ELSE list_transform(range(1, length(text) - 5),
                    i -> substr(text, i, 7)) END AS grams
           FROM src),
         h AS (SELECT doc_id, list_transform(grams,
             g -> CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)) AS hs
           FROM g),
         wm AS (SELECT doc_id,
             CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
                  ELSE list_transform(range(1, len(hs) - 2),
                    i -> list_min(hs[i:i + 3])) END AS mins
           FROM h),
         fp AS (SELECT doc_id, unnest(list_distinct(mins)) AS fingerprint
           FROM wm),
         rare AS (SELECT fingerprint FROM fp GROUP BY 1
           HAVING count(*) <= 20),
         f AS (SELECT fp.doc_id, fp.fingerprint FROM fp
           JOIN rare USING (fingerprint))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         FROM f a JOIN f b
           ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2"""),
    "dedup_minhash_sig" -> Gate(dedupMinhashSig, dkMinhashSigSelect),
    "dedup_lsh_pairs" -> Gate(dedupLshPairs, dkLshPairs),
    "dedup_lsh_eval" -> Gate(dedupLshEvalQ, dkLshEvalSql(10)),
    "dedup_lsh_capped" -> Gate(dedupLshCappedQ,
      """WITH d AS (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rn
           FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 70)),
         sizes AS (SELECT CASE WHEN rn < 60 THEN 'big' ELSE 'small' END AS fam,
                          count(*) AS n
                   FROM d GROUP BY 1)
         SELECT 'capped' AS kind,
           CAST(sum(CASE WHEN n <= 50 THEN n*(n-1)/2 ELSE 0 END) AS BIGINT) AS pairs
         FROM sizes
         UNION ALL
         SELECT 'uncapped' AS kind, CAST(sum(n*(n-1)/2) AS BIGINT) AS pairs
         FROM sizes"""),
    "dedup_lsh_char" -> Gate(dedupLshCharQ, dkLshCharPairs),
    "dedup_drop_near" -> Gate(dedupDropNear,
      s"""SELECT doc_id, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT id_b FROM ($dkLshPairs))"""),
    "dedup_components" -> Gate(dedupComponents,
      s"""WITH RECURSIVE pairs AS ($dkLshPairs),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         cc AS (
           SELECT DISTINCT src AS id, src AS label FROM edges
           UNION
           SELECT e.dst AS id, cc.label FROM cc JOIN edges e ON cc.id = e.src
         )
         SELECT id, min(label) AS component FROM cc GROUP BY id"""),
    "dedup_cluster_report" -> Gate(dedupClusterReportQ,
      s"""WITH RECURSIVE pairs AS ($dkLshPairs),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         cc AS (
           SELECT DISTINCT src AS id, src AS label FROM edges
           UNION
           SELECT e.dst AS id, cc.label FROM cc JOIN edges e ON cc.id = e.src
         ),
         comp AS (SELECT id, min(label) AS component FROM cc GROUP BY id),
         sz AS (SELECT component, count(*) AS cluster_size
           FROM comp GROUP BY 1)
         SELECT cluster_size, count(*) AS n_clusters,
           cluster_size * count(*) AS n_docs
         FROM sz GROUP BY 1"""),
    "dedup_simhash" -> Gate(dedupSimhash, dkSimhash),
    "dedup_simhash_pairs" -> Gate(dedupSimhashPairs, {
      val bandSelects = (0 until 4).map { b =>
        s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 4}) & 15 AS band_bits FROM sim"
      }.mkString(" UNION ALL ")
      // `ok` models the operator's maxBucketSize=1000 hot-bucket cap
      // (capHotBuckets: over-full buckets drop entirely BEFORE the
      // self-join). No bucket reaches the cap at the driver's SFs, but
      // a dup-amplified ~sf1 replica pushes every bucket past it — the
      // r17 spot-sweep caught the oracle not modeling the documented
      // recall trade.
      s"""WITH sim AS ($dkSimhash),
         bk AS ($bandSelects),
         ok AS (SELECT band, band_bits FROM bk
           GROUP BY 1, 2 HAVING count(*) <= 1000)
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         FROM bk a
         JOIN ok ON a.band = ok.band AND a.band_bits = ok.band_bits
         JOIN bk b ON a.band = b.band
           AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""
    }),
    "dedup_ngram_pairs" -> Gate(dedupNgramPairs, dkNgramPairs),
    "dedup_editdist_pairs" -> Gate(dedupEditDistPairsQ,
      """WITH lead AS (SELECT doc_id AS lid,
           substr(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1, 24)
             AS base FROM documents),
         fix AS (SELECT d.doc_id, CASE
             WHEN d.doc_id % 15 = 0 THEN l.base
             WHEN d.doc_id % 15 = 5 THEN 'x' || substr(l.base, 2)
             ELSE l.base || 'q' END AS key
           FROM documents d
           JOIN lead l ON l.lid = d.doc_id - d.doc_id % 15
           WHERE d.doc_id % 5 = 0 AND length(l.base) >= 12),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             levenshtein(a.key, b.key) AS dist
           FROM fix a JOIN fix b ON a.doc_id < b.doc_id
             AND abs(length(a.key) - length(b.key)) <= 2)
         SELECT id_a, id_b, CAST(dist AS INTEGER) AS dist
         FROM pr WHERE dist <= 2"""),
    "dedup_drop_editdist" -> Gate(dedupDropEditDistQ,
      """WITH lead AS (SELECT doc_id AS lid,
           substr(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1, 24)
             AS base FROM documents),
         fix AS (SELECT d.doc_id, CASE
             WHEN d.doc_id % 15 = 0 THEN l.base
             WHEN d.doc_id % 15 = 5 THEN 'x' || substr(l.base, 2)
             ELSE l.base || 'q' END AS key
           FROM documents d
           JOIN lead l ON l.lid = d.doc_id - d.doc_id % 15
           WHERE d.doc_id % 5 = 0 AND length(l.base) >= 12),
         drops AS (SELECT DISTINCT b.doc_id FROM fix a JOIN fix b
           ON a.doc_id < b.doc_id
             AND abs(length(a.key) - length(b.key)) <= 2
           WHERE levenshtein(a.key, b.key) <= 2)
         SELECT doc_id FROM fix
         WHERE doc_id NOT IN (SELECT doc_id FROM drops)"""),
    "dedup_cosine_pairs" -> Gate(dedupCosinePairs,
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4"""),
    "decontaminate" -> Gate(decontaminateQ, dkDecontaminate),
    "decontaminate_exact" -> Gate(decontaminateExactQ, dkDecontaminateExact),
    "contamination_report" -> Gate(contaminationReportQ,
      """WITH tr AS (SELECT doc_id,
           CASE WHEN doc_id % 9 = 0
             THEN text || ' held out evaluation question about the seventeen silver llamas crossing frozen rivers quietly'
             ELSE text END AS text
         FROM documents),
       pr AS (SELECT doc_id, text || ' held out evaluation question about the seventeen silver llamas crossing frozen rivers quietly' AS text
         FROM documents WHERE doc_id % 13 = 0),
       pt AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS ws FROM pr),
       pg AS (SELECT doc_id, md5(array_to_string(ws[i:i+12], ' ')) AS h
         FROM (SELECT doc_id, ws, unnest(CASE WHEN len(ws) >= 13 THEN range(1, len(ws) - 11) ELSE [] END) AS i FROM pt)),
       tt AS (SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS ws FROM tr),
       tg AS (SELECT DISTINCT md5(array_to_string(ws[i:i+12], ' ')) AS h
         FROM (SELECT ws, unnest(CASE WHEN len(ws) >= 13 THEN range(1, len(ws) - 11) ELSE [] END) AS i FROM tt)),
       m AS (SELECT DISTINCT pg.h FROM pg JOIN tg USING (h))
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN h IN (SELECT h FROM m) THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         round(CAST(sum(CASE WHEN h IN (SELECT h FROM m) THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS contamination
       FROM pg GROUP BY doc_id"""),
    "decontaminate_bloom" -> Gate(decontaminateBloomQ, dkDecontaminateExact),
    // the frozen-probe artifact is exact-semantics for any filter
    // size, and incremental probe absorption telescopes on the gram
    // set union — all three index gates share the exact oracle
    "decon_index" -> Gate(deconIndexQ, dkDecontaminateExact),
    "decon_index_append" -> Gate(deconIndexAppendQ, dkDecontaminateExact),
    "streaming_decon_index" -> Gate(streamingDeconIndexQ, dkDecontaminateExact),
    "decontaminate_scrub" -> Gate(decontaminateScrubQ,
      """WITH tr AS (SELECT doc_id,
             CASE WHEN doc_id % 9 = 0
               THEN text || ' held out evaluation question about the seventeen silver llamas crossing frozen rivers quietly'
               ELSE text END AS text
           FROM documents),
         pr AS (SELECT text || ' held out evaluation question about the seventeen silver llamas crossing frozen rivers quietly' AS text
           FROM documents WHERE doc_id % 13 = 0),
         pt AS (SELECT list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0) AS ws FROM pr),
         pg AS (SELECT DISTINCT array_to_string(list_transform(ws[i:i+12], w -> lower(w)), ' ') AS gk
           FROM (SELECT ws, unnest(CASE WHEN len(ws) >= 13 THEN range(1, len(ws) - 11) ELSE [] END) AS i FROM pt)),
         t AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0) AS ws FROM tr),
         tg AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS gpos,
             array_to_string(list_transform(ws[i:i+12], w -> lower(w)), ' ') AS gk
           FROM (SELECT doc_id, ws, unnest(CASE WHEN len(ws) >= 13 THEN range(1, len(ws) - 11) ELSE [] END) AS i FROM t)),
         cov AS (SELECT DISTINCT doc_id, CAST(unnest(range(gpos, gpos + 13)) AS INTEGER) AS pos
           FROM tg WHERE gk IN (SELECT gk FROM pg)),
         w AS (SELECT doc_id, CAST(generate_subscripts(ws, 1) - 1 AS INTEGER) AS pos, unnest(ws) AS w FROM t),
         k AS (SELECT w.doc_id, w.pos, w.w, cov.pos IS NULL AS keep
           FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.pos),
         agg AS (SELECT doc_id,
             coalesce(string_agg(CASE WHEN keep THEN w END, ' ' ORDER BY pos), '') AS text_kept,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_words_kept,
             CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_words_dropped
           FROM k GROUP BY doc_id)
         SELECT t.doc_id, coalesce(agg.text_kept, '') AS text_kept,
           coalesce(agg.n_words_kept, 0) AS n_words_kept,
           coalesce(agg.n_words_dropped, 0) AS n_words_dropped
         FROM t LEFT JOIN agg USING (doc_id)"""),
    "curate_scrub" -> Gate(curateScrubQ,
      s"""WITH tr AS (SELECT doc_id,
             CASE WHEN doc_id % 9 = 0
               THEN text || ' held out evaluation question about the seventeen silver llamas crossing frozen rivers quietly'
               ELSE text END AS text
           FROM documents),
         q AS (SELECT doc_id, text FROM tr
           WHERE length(text) >= 250 AND length(text) <= 100000),
         pr AS (SELECT text || ' held out evaluation question about the seventeen silver llamas crossing frozen rivers quietly' AS text
           FROM documents WHERE doc_id % 13 = 0),
         pt AS (SELECT list_filter(string_split_regex(text, '\\s+'), w -> len(w) > 0) AS ws FROM pr),
         pg AS (SELECT DISTINCT array_to_string(list_transform(ws[i:i+12], w -> lower(w)), ' ') AS gk
           FROM (SELECT ws, unnest(CASE WHEN len(ws) >= 13 THEN range(1, len(ws) - 11) ELSE [] END) AS i FROM pt)),
         t AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> len(w) > 0) AS ws FROM q),
         tg AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS gpos,
             array_to_string(list_transform(ws[i:i+12], w -> lower(w)), ' ') AS gk
           FROM (SELECT doc_id, ws, unnest(CASE WHEN len(ws) >= 13 THEN range(1, len(ws) - 11) ELSE [] END) AS i FROM t)),
         cov AS (SELECT DISTINCT doc_id, CAST(unnest(range(gpos, gpos + 13)) AS INTEGER) AS pos
           FROM tg WHERE gk IN (SELECT gk FROM pg)),
         w AS (SELECT doc_id, CAST(generate_subscripts(ws, 1) - 1 AS INTEGER) AS pos, unnest(ws) AS w FROM t),
         k AS (SELECT w.doc_id, w.pos, w.w, cov.pos IS NULL AS keep
           FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.pos),
         agg AS (SELECT doc_id,
             coalesce(string_agg(CASE WHEN keep THEN w END, ' ' ORDER BY pos), '') AS tk
           FROM k GROUP BY doc_id),
         sc AS (SELECT t.doc_id, coalesce(agg.tk, '') AS tk
           FROM t LEFT JOIN agg USING (doc_id)),
         ne AS (SELECT doc_id, tk FROM sc WHERE length(tk) > 0),
         ex AS (SELECT min(doc_id) AS doc_id FROM ne
           GROUP BY md5(regexp_replace(trim(lower(tk)), '\\s+', ' ', 'g'))),
         fin AS (SELECT ne.doc_id FROM ne JOIN ex USING (doc_id))
         SELECT doc_id,
           CASE WHEN h < 800000 THEN 'train'
                WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
             ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000 AS h FROM fin)"""),
    "curate_report" -> Gate(curateReportQ,
      s"""WITH q AS (SELECT doc_id, text FROM documents
           WHERE length(text) >= 250 AND length(text) <= 100000),
         ex AS (SELECT min(doc_id) AS doc_id FROM q
           GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))),
         sv AS (SELECT q.doc_id, q.text FROM q JOIN ex USING (doc_id)),
         pt AS (SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             w -> len(w) > 0) AS ws
           FROM documents WHERE doc_id % 13 = 0),
         pg AS (SELECT DISTINCT md5(array_to_string(ws[i:i+12], ' ')) AS h
           FROM (SELECT ws, unnest(CASE WHEN len(ws) >= 13
               THEN range(1, len(ws) - 11) ELSE [] END) AS i FROM pt)),
         tt AS (SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
               w -> len(w) > 0) AS ws FROM sv),
         tg AS (SELECT DISTINCT doc_id, md5(array_to_string(ws[i:i+12], ' ')) AS h
           FROM (SELECT doc_id, ws, unnest(CASE WHEN len(ws) >= 13
               THEN range(1, len(ws) - 11) ELSE [] END) AS i FROM tt)),
         bad AS (SELECT DISTINCT doc_id FROM tg JOIN pg USING (h)),
         fin AS (SELECT doc_id FROM sv
           WHERE doc_id NOT IN (SELECT doc_id FROM bad))
         SELECT CAST(0 AS INTEGER) AS stage_order, 'input' AS stage,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_rows
         UNION ALL SELECT 1, 'length_gate',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM q)
         UNION ALL SELECT 2, 'exact_dedup',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sv)
         UNION ALL SELECT 3, 'decontaminate',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM fin)
         UNION ALL SELECT 4, 'output',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM fin)"""),
    "decontaminate_scrub_bpe" -> Gate(decontaminateScrubBpeQ,
      """WITH tr AS (SELECT doc_id,
             CASE WHEN doc_id % 9 = 0
               THEN 'licensetermsapplytoallcopiesofthisdocumentnowarrantyisexpressedorimplied' || text
               ELSE text END AS text
           FROM documents),
         pr AS (SELECT 'licensetermsapplytoallcopiesofthisdocumentnowarrantyisexpressedorimplied' || text AS text
           FROM documents WHERE doc_id % 13 = 0),
         pt AS (SELECT list_transform(
             string_split(replace(replace(text, 'abc', chr(1)), 'ab', chr(2)), ''),
             c -> CAST(CASE WHEN c = chr(1) THEN 257
                            WHEN c = chr(2) THEN 256
                            ELSE ascii(c) END AS INTEGER)) AS ids FROM pr),
         pg AS (SELECT DISTINCT md5(array_to_string(ids[i:i+39], ',')) AS h
           FROM (SELECT ids, unnest(CASE WHEN len(ids) >= 40 THEN range(1, len(ids) - 38) ELSE [] END) AS i FROM pt)),
         t AS (SELECT doc_id, list_transform(
             string_split(replace(replace(text, 'abc', chr(1)), 'ab', chr(2)), ''),
             c -> CAST(CASE WHEN c = chr(1) THEN 257
                            WHEN c = chr(2) THEN 256
                            ELSE ascii(c) END AS INTEGER)) AS ids FROM tr),
         g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS gpos,
             md5(array_to_string(ids[i:i+39], ',')) AS h
           FROM (SELECT doc_id, ids, unnest(CASE WHEN len(ids) >= 40 THEN range(1, len(ids) - 38) ELSE [] END) AS i FROM t)),
         cov AS (SELECT DISTINCT doc_id, CAST(unnest(range(gpos, gpos + 40)) AS INTEGER) AS pos
           FROM g WHERE h IN (SELECT h FROM pg)),
         w AS (SELECT doc_id, CAST(generate_subscripts(ids, 1) - 1 AS INTEGER) AS pos, unnest(ids) AS id FROM t),
         k AS (SELECT w.doc_id, w.pos, w.id, cov.pos IS NULL AS keep
           FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.pos),
         agg AS (SELECT doc_id,
             coalesce(string_agg(CASE WHEN keep THEN
                 CASE WHEN id = 257 THEN 'abc' WHEN id = 256 THEN 'ab'
                      ELSE chr(id) END END, '' ORDER BY pos), '') AS text_kept,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_tokens_kept,
             CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_tokens_dropped
           FROM k GROUP BY doc_id)
         SELECT t.doc_id, coalesce(agg.text_kept, '') AS text_kept,
           coalesce(agg.n_tokens_kept, 0) AS n_tokens_kept,
           coalesce(agg.n_tokens_dropped, 0) AS n_tokens_dropped
         FROM t LEFT JOIN agg USING (doc_id)"""),
    "mix_temperature" -> Gate(mixTemperatureQ,
      s"""WITH tot AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS tk
           FROM documents GROUP BY 1),
         w AS (SELECT source, tk,
             pow(tk, 0.5) / (SELECT sum(pow(tk, 0.5)) FROM tot) AS wt
           FROM tot),
         fr AS (SELECT source, least(1.0, 20000 * wt / tk) AS f FROM w)
         SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN fr USING (source)
         WHERE ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000
           < round(f * 1000000)"""),
    "upsample_epochs" -> Gate(upsampleEpochsQ, dkUpsampleOracle),
    "streaming_upsample" -> Gate(streamingUpsampleQ, dkUpsampleOracle),
    "pack_shuffle" -> Gate(packShuffleQ,
      s"""WITH d AS (SELECT doc_id, n_chars,
           ${dkHash("CAST(doc_id AS VARCHAR)")} AS h FROM documents),
         b AS (SELECT doc_id, n_chars, h, h % 8 AS pack_bucket FROM d),
         c AS (SELECT *, COALESCE(sum(n_chars) OVER (
             PARTITION BY pack_bucket ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
           FROM b),
         p AS (SELECT DISTINCT CAST(pack_bucket AS BIGINT) AS pack_bucket,
             CAST(st // 2048 AS BIGINT) AS pack_id FROM c),
         hh AS (SELECT pack_bucket, pack_id,
             ${dkHash("CAST(pack_bucket AS VARCHAR) || ':' || CAST(pack_id AS VARCHAR) || ':7'")} AS h
           FROM p)
         SELECT pack_bucket, pack_id, h % 8 AS shard,
           CAST(row_number() OVER (PARTITION BY h % 8
             ORDER BY h, pack_bucket, pack_id) AS BIGINT) AS shard_rank
         FROM hh"""),
    "html_extract" -> Gate(htmlExtractQ,
      s"""WITH $dkHtmlClean
         SELECT doc_id, t AS text_clean FROM clean"""),
    "curate_html" -> Gate(curateHtmlQ,
      s"""WITH $dkHtmlClean,
         q AS (SELECT doc_id, t FROM clean
           WHERE length(t) >= 250 AND length(t) <= 100000),
         ex AS (SELECT min(doc_id) AS doc_id FROM q
           GROUP BY md5(regexp_replace(trim(lower(t)), '\\s+', ' ', 'g'))),
         fin AS (SELECT q.doc_id FROM q JOIN ex USING (doc_id))
         SELECT doc_id,
           CASE WHEN h < 800000 THEN 'train'
                WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
             ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000 AS h FROM fin)"""),
    "wet_roundtrip" -> Gate(wetRoundtripQ, dkWetOracle),
    // the malformed plants (m 5/6) never re-enter: the walk emits them
    // as null-length spans and the quarantine predicate drops them;
    // m=4 survives self-consistently truncated (7 marker chars kept)
    "wet_curate_quarantine" -> Gate(wetCurateQuarantineQ,
      s"""WITH src AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 4 THEN text || ' #QUARA'
                ELSE text END AS text
         FROM documents WHERE doc_id % 7 NOT IN (5, 6)),
       q AS (SELECT doc_id, text FROM src
         WHERE length(text) >= 250 AND length(text) <= 100000),
       ex AS (SELECT min(doc_id) AS doc_id FROM q
         GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')))
       SELECT doc_id,
         CASE WHEN h < 800000 THEN 'train'
              WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
       FROM (SELECT doc_id,
           ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000 AS h FROM ex)"""),
    "streaming_wet" -> Gate(streamingWetQ, dkWetOracle),
    "curate_pipeline" -> Gate(curatePipelineQ, dkCurate),
    "curate_substring" -> Gate(curateSubstringQ, dkCurateSubstring),
    "curate_decon_exact" -> Gate(curateDeconExactQ,
      s"""WITH q AS (SELECT doc_id, text FROM documents
           WHERE length(text) >= 250 AND length(text) <= 100000),
         ex AS (SELECT min(doc_id) AS doc_id FROM q
           GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))),
         sv AS (SELECT q.doc_id, q.text FROM q JOIN ex USING (doc_id)),
         pt AS (SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             w -> len(w) > 0) AS ws
           FROM documents WHERE doc_id % 13 = 0),
         pg AS (SELECT DISTINCT md5(array_to_string(ws[i:i+12], ' ')) AS h
           FROM (SELECT ws, unnest(CASE WHEN len(ws) >= 13
               THEN range(1, len(ws) - 11) ELSE [] END) AS i FROM pt)),
         tt AS (SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
               w -> len(w) > 0) AS ws FROM sv),
         tg AS (SELECT DISTINCT doc_id, md5(array_to_string(ws[i:i+12], ' ')) AS h
           FROM (SELECT doc_id, ws, unnest(CASE WHEN len(ws) >= 13
               THEN range(1, len(ws) - 11) ELSE [] END) AS i FROM tt)),
         bad AS (SELECT DISTINCT doc_id FROM tg JOIN pg USING (h)),
         fin AS (SELECT doc_id FROM sv
           WHERE doc_id NOT IN (SELECT doc_id FROM bad))
         SELECT doc_id,
           CASE WHEN h < 800000 THEN 'train'
                WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
             ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000 AS h FROM fin)"""),
    "curate_classifier" -> Gate(curateClassifierQ,
      s"""${classifierOracle(10, "4.0")},
         sc AS (SELECT d.doc_id, 1/(1+exp(-s.m)) AS score
           FROM d JOIN (SELECT f.doc_id, sum(f.x * w.wt) AS m
               FROM feat f JOIN w10 w USING (bucket) GROUP BY f.doc_id) s
           USING (doc_id)),
         cq AS (SELECT src.doc_id, src.text FROM src JOIN sc USING (doc_id)
           WHERE length(src.text) >= 250 AND length(src.text) <= 100000
             AND sc.score <= 0.094),
         cex AS (SELECT min(doc_id) AS doc_id FROM cq
           GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')))
         SELECT doc_id,
           CASE WHEN h < 800000 THEN 'train'
                WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
             ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000 AS h FROM cex)"""),
    "curate_quality" -> Gate(curateQualityQ, dkCurateQuality),
    "streaming_curate_entropy" -> Gate(streamingCurateEntropyQ,
      s"""WITH src AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0
           THEN repeat('aa ', 120) ELSE text END AS text
         FROM documents),
         lg AS (SELECT * FROM src WHERE length(text) >= 1),
         cc AS (SELECT doc_id, c, count(*) AS k FROM (SELECT doc_id,
             unnest(string_split(text, '')) AS c FROM lg) GROUP BY 1, 2),
         en AS (SELECT doc_id, CAST(sum(k) AS DOUBLE) AS n,
             sum(k * log2(k)) AS s FROM cc GROUP BY 1),
         eg AS (SELECT lg.doc_id FROM lg JOIN en USING (doc_id)
           WHERE log2(en.n) - en.s / en.n >= 2.0
             AND log2(en.n) - en.s / en.n <= 10.0)
         SELECT doc_id, CASE WHEN h < 800000 THEN 'train'
             WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
             ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000 AS h
           FROM eg)"""),
    "curate_script" -> Gate(curateScriptQ,
      s"""WITH src AS (SELECT doc_id, CASE
           WHEN doc_id % 19 = 0 THEN 'Привет мир это русский текст документа'
           WHEN doc_id % 19 = 5 THEN '日本語のテキスト mixed with ラテン and 漢字'
           WHEN doc_id = 7 THEN 'مرحبا بالعالم'
           ELSE text END AS text FROM documents),
         lg AS (SELECT * FROM src WHERE length(text) >= 1),
         sc AS (SELECT doc_id, text,
             length(regexp_replace(text, '\\s', '', 'g')) AS n,
             length(regexp_replace(text, '[^\\p{Latin}]', '', 'g')) AS l,
             length(regexp_replace(text, '[^\\p{Cyrillic}]', '', 'g')) AS cy,
             length(regexp_replace(text,
               '[^\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}]', '', 'g')) AS k,
             length(regexp_replace(text, '[^\\p{Arabic}]', '', 'g')) AS a
           FROM lg),
         kept AS (SELECT doc_id, text FROM sc
           WHERE n > 0 AND l + cy + k + a > 0
             AND l >= cy AND l >= k AND l >= a),
         ex AS (SELECT min(doc_id) AS doc_id FROM kept
           GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')))
         SELECT doc_id, CASE WHEN h < 800000 THEN 'train'
             WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
             ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000 AS h FROM ex)"""),
    "streaming_curate_script" -> Gate(streamingCurateScriptQ,
      s"""WITH src AS (SELECT doc_id, CASE
           WHEN doc_id % 19 = 0 THEN 'Привет мир это русский текст документа'
           WHEN doc_id % 19 = 5 THEN '日本語のテキスト mixed with ラテン and 漢字'
           WHEN doc_id = 7 THEN 'مرحبا بالعالم'
           ELSE text END AS text FROM documents),
         lg AS (SELECT * FROM src WHERE length(text) >= 1),
         sc AS (SELECT doc_id,
             length(regexp_replace(text, '\\s', '', 'g')) AS n,
             length(regexp_replace(text, '[^\\p{Latin}]', '', 'g')) AS l,
             length(regexp_replace(text, '[^\\p{Cyrillic}]', '', 'g')) AS cy,
             length(regexp_replace(text,
               '[^\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}]', '', 'g')) AS k,
             length(regexp_replace(text, '[^\\p{Arabic}]', '', 'g')) AS a
           FROM lg),
         kept AS (SELECT doc_id FROM sc
           WHERE n > 0 AND l + cy + k + a > 0
             AND l >= cy AND l >= k AND l >= a)
         SELECT doc_id, CASE WHEN h < 800000 THEN 'train'
             WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
             ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000 AS h FROM kept)"""),
    "contract_checks" -> Gate(contractChecksQ,
      """WITH fix0 AS (SELECT doc_id,
           CASE WHEN doc_id % 97 = 0 THEN NULL ELSE text END AS text,
           CASE WHEN doc_id % 89 = 0 THEN -1 ELSE n_chars END AS n_chars,
           CASE WHEN doc_id % 83 = 0 THEN 'Z9' ELSE lang END AS lang
         FROM documents),
         fix AS (SELECT * FROM fix0
           UNION ALL SELECT * FROM fix0 WHERE doc_id % 101 = 0),
         tot AS (SELECT count(*) AS checked FROM fix)
         SELECT rule, checked, violations, violations = 0 AS pass FROM (
           SELECT 'not_null(text)' AS rule, t.checked,
             (SELECT count(*) FROM fix WHERE text IS NULL) AS violations
           FROM tot t
           UNION ALL
           SELECT 'in_range(n_chars,1.0,1000000.0)', t.checked,
             (SELECT count(*) FROM fix
              WHERE n_chars IS NULL OR n_chars < 1 OR n_chars > 1000000)
           FROM tot t
           UNION ALL
           SELECT 'matches(lang)', t.checked,
             (SELECT count(*) FROM fix
              WHERE lang IS NULL OR NOT regexp_matches(lang, '^[a-z]{2}$'))
           FROM tot t
           UNION ALL
           SELECT 'predicate(n_chars_consistent)', t.checked,
             (SELECT count(*) FROM fix
              WHERE text IS NULL OR n_chars <> length(text))
           FROM tot t
           UNION ALL
           SELECT 'unique(doc_id)', t.checked,
             (SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) FROM
               (SELECT count(*) AS n FROM fix GROUP BY doc_id) WHERE n > 1)
           FROM tot t)"""),
    "contract_fk" -> Gate(contractFkQ,
      """WITH o AS (SELECT CASE WHEN o_orderkey % 67 = 0 THEN -o_custkey
             ELSE o_custkey END AS k FROM orders),
         tot AS (SELECT count(*) AS checked FROM o)
         SELECT rule, checked, violations, violations = 0 AS pass FROM (
           SELECT 'fk(o_custkey->c_custkey)' AS rule, t.checked,
             (SELECT count(*) FROM o WHERE k IS NULL
              OR k NOT IN (SELECT c_custkey FROM customer)) AS violations
           FROM tot t
           UNION ALL
           SELECT 'not_null(o_custkey)', t.checked,
             (SELECT count(*) FROM o WHERE k IS NULL) FROM tot t)"""),
    "streaming_contract" -> Gate(streamingContractQ,
      """WITH fix AS (SELECT doc_id,
           CASE WHEN doc_id % 97 = 0 THEN NULL ELSE text END AS text,
           CASE WHEN doc_id % 89 = 0 THEN -1 ELSE n_chars END AS n_chars,
           CASE WHEN doc_id % 83 = 0 THEN 'Z9' ELSE lang END AS lang
         FROM documents),
         tot AS (SELECT count(*) AS checked FROM fix)
         SELECT rule, checked, violations, violations = 0 AS pass FROM (
           SELECT 'not_null(text)' AS rule, t.checked,
             (SELECT count(*) FROM fix WHERE text IS NULL) AS violations
           FROM tot t
           UNION ALL
           SELECT 'in_range(n_chars,1.0,1000000.0)', t.checked,
             (SELECT count(*) FROM fix
              WHERE n_chars IS NULL OR n_chars < 1 OR n_chars > 1000000)
           FROM tot t
           UNION ALL
           SELECT 'matches(lang)', t.checked,
             (SELECT count(*) FROM fix
              WHERE lang IS NULL OR NOT regexp_matches(lang, '^[a-z]{2}$'))
           FROM tot t
           UNION ALL
           SELECT 'predicate(n_chars_consistent)', t.checked,
             (SELECT count(*) FROM fix
              WHERE text IS NULL OR n_chars <> length(text))
           FROM tot t)"""),
    "contract_by_source" -> Gate(contractBySourceQ,
      """WITH fix AS (SELECT source,
           CASE WHEN doc_id % 97 = 0 THEN NULL ELSE text END AS text,
           CASE WHEN doc_id % 89 = 0 THEN -1 ELSE n_chars END AS n_chars,
           CASE WHEN doc_id % 83 = 0 THEN 'Z9' ELSE lang END AS lang
         FROM documents)
         SELECT source AS "group", rule, checked, violations,
           violations = 0 AS pass FROM (
           SELECT source, 'not_null(text)' AS rule, count(*) AS checked,
             CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS violations
           FROM fix GROUP BY source
           UNION ALL
           SELECT source, 'in_range(n_chars,1.0,1000000.0)', count(*),
             CAST(sum(CASE WHEN n_chars IS NULL OR n_chars < 1
               OR n_chars > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
           FROM fix GROUP BY source
           UNION ALL
           SELECT source, 'matches(lang)', count(*),
             CAST(sum(CASE WHEN lang IS NULL
               OR NOT regexp_matches(lang, '^[a-z]{2}$')
               THEN 1 ELSE 0 END) AS BIGINT)
           FROM fix GROUP BY source)"""),
    "drift_bins" -> Gate(driftBinsQ,
      """WITH bsnap AS (SELECT CASE WHEN doc_id % 7 = 0 THEN n_chars + 80
             ELSE n_chars END AS v FROM documents WHERE doc_id % 3 <> 0),
         ca AS (SELECT LEAST(GREATEST(CAST(FLOOR(n_chars / 30.0) AS INTEGER),
             0), 19) AS bin, count(*) AS n FROM documents
           WHERE n_chars IS NOT NULL GROUP BY 1),
         cb AS (SELECT LEAST(GREATEST(CAST(FLOOR(v / 30.0) AS INTEGER),
             0), 19) AS bin, count(*) AS n FROM bsnap
           WHERE v IS NOT NULL GROUP BY 1),
         sp AS (SELECT CAST(range AS INTEGER) AS bin FROM range(0, 20))
         SELECT sp.bin, COALESCE(ca.n, 0) AS cnt_a, COALESCE(cb.n, 0) AS cnt_b
         FROM sp LEFT JOIN ca USING (bin) LEFT JOIN cb USING (bin)"""),
    "drift_psi" -> Gate(driftPsiQ, dkDriftPsi),
    // the stream-accumulated artifact's counters telescope to the batch
    // bin table, so the streaming form replays the SAME oracle verbatim
    "streaming_drift" -> Gate(streamingDriftQ, dkDriftPsi),
    "release_drift" -> Gate(releaseDriftQ,
      """WITH ca AS (SELECT LEAST(GREATEST(CAST(FLOOR(n_chars / 30.0)
             AS INTEGER), 0), 19) AS bin, count(*) AS n FROM documents
           WHERE n_chars IS NOT NULL GROUP BY 1),
         cb AS (SELECT LEAST(GREATEST(CAST(FLOOR(n_chars / 30.0)
             AS INTEGER), 0), 19) AS bin, count(*) AS n FROM documents
           WHERE n_chars IS NOT NULL AND n_chars <= 300 GROUP BY 1),
         sp AS (SELECT CAST(range AS INTEGER) AS bin FROM range(0, 20)),
         bins AS (SELECT sp.bin, COALESCE(ca.n, 0) AS cnt_a,
             COALESCE(cb.n, 0) AS cnt_b
           FROM sp LEFT JOIN ca USING (bin) LEFT JOIN cb USING (bin)),
         t AS (SELECT bin, cnt_a, cnt_b,
             CAST(sum(cnt_a) OVER () AS DOUBLE) AS na,
             CAST(sum(cnt_b) OVER () AS DOUBLE) AS nb,
             CAST(sum(cnt_a) OVER (ORDER BY bin) AS DOUBLE) AS cum_a,
             CAST(sum(cnt_b) OVER (ORDER BY bin) AS DOUBLE) AS cum_b
           FROM bins),
         p AS (SELECT (cnt_a + 0.5) / (na + 10.0) AS pa,
             (cnt_b + 0.5) / (nb + 10.0) AS pb,
             abs(cum_a / na - cum_b / nb) AS gap, na, nb FROM t)
         SELECT round(sum((pa - pb) * ln(pa / pb)), 6) AS psi,
           round(max(gap), 6) AS ks,
           CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b
         FROM p"""),
    "drift_by_lang" -> Gate(driftByLangQ,
      """WITH asnap AS (SELECT lang, n_chars AS v FROM documents
           WHERE n_chars IS NOT NULL),
         bsnap AS (SELECT lang, CASE WHEN doc_id % 7 = 0 THEN n_chars + 80
             ELSE n_chars END AS v FROM documents
           WHERE doc_id % 3 <> 0 AND n_chars IS NOT NULL),
         ca AS (SELECT lang, LEAST(GREATEST(CAST(FLOOR(v / 30.0) AS INTEGER),
             0), 19) AS bin, count(*) AS n FROM asnap GROUP BY 1, 2),
         cb AS (SELECT lang, LEAST(GREATEST(CAST(FLOOR(v / 30.0) AS INTEGER),
             0), 19) AS bin, count(*) AS n FROM bsnap GROUP BY 1, 2),
         gs AS (SELECT DISTINCT lang FROM (SELECT lang FROM asnap
           UNION ALL SELECT lang FROM bsnap)),
         sp AS (SELECT gs.lang, CAST(r.range AS INTEGER) AS bin
           FROM gs, range(0, 20) r),
         bins AS (SELECT sp.lang, sp.bin, COALESCE(ca.n, 0) AS cnt_a,
             COALESCE(cb.n, 0) AS cnt_b
           FROM sp LEFT JOIN ca USING (lang, bin)
                   LEFT JOIN cb USING (lang, bin)),
         t AS (SELECT lang, bin, cnt_a, cnt_b,
             CAST(sum(cnt_a) OVER (PARTITION BY lang) AS DOUBLE) AS na,
             CAST(sum(cnt_b) OVER (PARTITION BY lang) AS DOUBLE) AS nb,
             CAST(sum(cnt_a) OVER (PARTITION BY lang ORDER BY bin)
               AS DOUBLE) AS cum_a,
             CAST(sum(cnt_b) OVER (PARTITION BY lang ORDER BY bin)
               AS DOUBLE) AS cum_b
           FROM bins),
         p AS (SELECT lang, (cnt_a + 0.5) / (na + 10.0) AS pa,
             (cnt_b + 0.5) / (nb + 10.0) AS pb,
             abs(cum_a / na - cum_b / nb) AS gap, na, nb FROM t)
         SELECT lang AS "group", round(sum((pa - pb) * ln(pa / pb)), 6)
             AS psi,
           round(max(gap), 6) AS ks,
           CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b
         FROM p GROUP BY lang"""),
    "curate_exposure" -> Gate(curateExposureQ,
      s"""WITH src AS (SELECT doc_id, CASE
           WHEN doc_id % 17 = 0 THEN repeat('aa ', 120)
           WHEN doc_id % 13 = 0
             THEN '$CurateExposurePassage uniq tail ' || CAST(doc_id AS VARCHAR)
           ELSE text END AS text
         FROM documents),
         lg AS (SELECT * FROM src WHERE length(text) >= 1),
         cc AS (SELECT doc_id, c, count(*) AS k FROM (SELECT doc_id,
             unnest(string_split(text, '')) AS c FROM lg) GROUP BY 1, 2),
         en AS (SELECT doc_id, CAST(sum(k) AS DOUBLE) AS n,
             sum(k * log2(k)) AS s FROM cc GROUP BY 1),
         eg AS (SELECT lg.doc_id, lg.text FROM lg JOIN en USING (doc_id)
           WHERE log2(en.n) - en.s / en.n >= 2.0
             AND log2(en.n) - en.s / en.n <= 10.0),
         ex AS (SELECT doc_id, text FROM (SELECT doc_id, text,
             row_number() OVER (PARTITION BY
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
               ORDER BY doc_id) AS rn FROM eg) WHERE rn = 1),
         tt AS (SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
               w -> len(w) > 0) AS ws FROM ex),
         tg AS (SELECT doc_id, array_to_string(ws[i:i+12], ' ') AS g
           FROM (SELECT doc_id, ws, unnest(CASE WHEN len(ws) >= 13
               THEN range(1, len(ws) - 11) ELSE [] END) AS i FROM tt)),
         nd AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS c2
             FROM tg GROUP BY 1) WHERE c2 >= 2),
         tot AS (SELECT doc_id, count(*) AS ng FROM tg GROUP BY 1),
         dup AS (SELECT doc_id, count(*) AS dg
           FROM tg SEMI JOIN nd USING (g) GROUP BY 1),
         keep AS (SELECT ex.doc_id FROM ex
           LEFT JOIN tot ON ex.doc_id = tot.doc_id
           LEFT JOIN dup ON ex.doc_id = dup.doc_id
           WHERE CASE WHEN coalesce(tot.ng, 0) = 0 THEN 0.0
             ELSE round(CAST(coalesce(dup.dg, 0) AS DOUBLE) / tot.ng, 6)
             END <= 0.5)
         SELECT doc_id, CASE WHEN h < 800000 THEN 'train'
             WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
             ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000 AS h
           FROM keep)"""),
    "dedup_index_persist" -> Gate(dedupIndexPersistQ,
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS text_hash,
         min(doc_id) AS keep_id
         FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1"""),
    "dedup_index_append" -> Gate(dedupIndexAppendQ, dkDedupIndexAppend),
    "dedup_index_compact" -> Gate(dedupIndexCompactQ, dkDedupIndexCompact),
    // the stream ingests the SAME %3 batch against the same frozen
    // index, and the telescoping property makes the surviving set
    // independent of micro-batching — oracle shared verbatim
    "streaming_dedup_index" -> Gate(streamingDedupIndexQ, dkDedupIndexAppend),
    "dedup_index_semantic" -> Gate(dedupIndexSemanticQ, dkDedupIndexSemantic),
    "dedup_index_compact_semantic" ->
      Gate(dedupIndexCompactSemQ, dkDedupIndexSemantic),
    "streaming_dedup_semantic" ->
      Gate(streamingDedupSemanticQ, dkDedupIndexSemantic),
    "curate_semantic" -> Gate(curateSemanticQ,
      s"""WITH lg AS (SELECT doc_id, text FROM documents
           WHERE length(text) >= 250 AND length(text) <= 100000),
         ex AS (SELECT min(doc_id) AS doc_id FROM lg
           GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))),
         ve AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, vd AS cv FROM ve
           WHERE vec_id % 100 = 0),
         sub AS (SELECT ve.vec_id, ve.vd FROM ve
           JOIN ex ON ve.vec_id = ex.doc_id),
         asg AS (SELECT vec_id, vd, centroid_id FROM (
             SELECT sub.vec_id, sub.vd, c.centroid_id,
               row_number() OVER (PARTITION BY sub.vec_id
                 ORDER BY round(list_cosine_similarity(sub.vd, c.cv), 6) DESC,
                          c.centroid_id) AS rn
             FROM sub, c) WHERE rn = 1),
         kp AS (SELECT a.vec_id FROM asg a
           WHERE NOT EXISTS (SELECT 1 FROM asg b
             WHERE b.centroid_id = a.centroid_id AND b.vec_id < a.vec_id
               AND round(list_cosine_similarity(a.vd, b.vd), 6) >= 0.3)),
         surv AS (SELECT ex.doc_id FROM ex
           LEFT JOIN sub ON sub.vec_id = ex.doc_id
           WHERE sub.vec_id IS NULL
             OR ex.doc_id IN (SELECT vec_id FROM kp))
         SELECT doc_id,
           CASE WHEN h < 800000 THEN 'train'
                WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
             ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000 AS h
           FROM surv)"""),
    "dedup_lsh_verified" -> Gate(dedupLshVerifiedQ,
      s"""WITH pairs AS ($dkLshPairs),
         $dkShingles
         SELECT p.id_a, p.id_b,
           round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) AS jaccard
         FROM pairs p JOIN s x ON x.doc_id = p.id_a
           JOIN s y ON y.doc_id = p.id_b
         WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) >= 0.3"""),
    "chunk_tokens" -> Gate(chunkTokensQ,
      """WITH tk AS (SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS toks FROM documents),
         c AS (SELECT doc_id, toks,
             greatest(1, CAST(ceil((len(toks) - 8) / 32.0) AS INTEGER)) AS nc
           FROM tk)
         SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
           CAST(len(toks[(i*32+1):(i*32+40)]) AS INTEGER) AS n_tokens,
           array_to_string(toks[(i*32+1):(i*32+40)], ' ') AS chunk_text
         FROM c, unnest(range(0, nc)) AS t(i)"""),
    "sample_stratified" -> Gate(sampleStratifiedQ,
      s"""SELECT doc_id, lang FROM documents
         WHERE ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000
           < (CASE WHEN lang = 'en' THEN 500000
                   WHEN lang = 'de' THEN 250000 ELSE 100000 END)"""),
    // stateless filter => the stream emits exactly the batch sample
    "streaming_sample" -> Gate(streamingSampleQ,
      s"""SELECT doc_id, lang FROM documents
         WHERE ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000
           < (CASE WHEN lang = 'en' THEN 500000
                   WHEN lang = 'de' THEN 250000 ELSE 100000 END)"""),
    "sample_exact" -> Gate(sampleExactQ,
      s"""SELECT lang, doc_id, sample_rank FROM (
           SELECT lang, doc_id, CAST(row_number() OVER (PARTITION BY lang
               ORDER BY h % 4503599627370496, h) AS INTEGER) AS sample_rank
           FROM (SELECT lang, doc_id,
               ${dkHash("CAST(doc_id AS VARCHAR)")} AS h FROM documents))
         WHERE sample_rank <= 20"""),
    "sample_cluster_balanced" -> Gate(sampleClusterBalancedQ,
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id % 100 = 0),
         v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         asg AS (SELECT vec_id, centroid_id FROM (
             SELECT v.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(vd, cv), 6) DESC,
                          centroid_id) AS rn
             FROM v, c) WHERE rn = 1),
         h AS (SELECT centroid_id, vec_id,
             ${dkHash("CAST(vec_id AS VARCHAR)")} AS h FROM asg)
         SELECT centroid_id, vec_id, sample_rank FROM (
           SELECT centroid_id, vec_id,
             CAST(row_number() OVER (PARTITION BY centroid_id
               ORDER BY h % 4503599627370496, h) AS INTEGER) AS sample_rank
           FROM h)
         WHERE sample_rank <= 5"""),
    "mix_budget" -> Gate(mixBudgetQ,
      s"""WITH tot AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS tk
           FROM documents GROUP BY 1),
         fr AS (SELECT source,
             least(1.0, 10000 * (CASE WHEN source = 'src0' THEN 0.5
                                      WHEN source = 'src1' THEN 0.3
                                      ELSE 0.2 / 18 END) / tk) AS f
           FROM tot)
         SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN fr USING (source)
         WHERE ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000
           < round(f * 1000000)"""),
    "bpe_train" -> Gate(bpeTrainQ, bpeTrainOracle(8)),
    "token_ids_bpe" -> Gate(tokenIdsBpeQ,
      """SELECT doc_id,
         array_to_string(list_transform(
           string_split(replace(replace(text, 'abc', chr(1)), 'ab', chr(2)), ''),
           c -> CAST(CASE WHEN c = chr(1) THEN 257
                          WHEN c = chr(2) THEN 256
                          ELSE ascii(c) END AS VARCHAR)), ',') AS ids_csv,
         CAST(strlen(replace(replace(text, 'abc', chr(1)), 'ab', chr(2))) AS BIGINT) AS n_tokens
         FROM documents"""),
    "token_fertility" -> Gate(tokenFertilityQ,
      """WITH per AS (SELECT lang,
           CAST(strlen(text)
             - (strlen(text) - strlen(replace(text, 'ab', ''))) // 2
             - (strlen(text) - strlen(replace(text, 'abc', ''))) // 3
             AS BIGINT) AS tk,
           CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             w -> len(w) > 0)) AS BIGINT) AS wd
         FROM documents)
         SELECT lang, CAST(sum(tk) AS BIGINT) AS n_tokens,
           CAST(sum(wd) AS BIGINT) AS n_words,
           round(CAST(sum(tk) AS DOUBLE) / sum(wd), 6) AS fertility
         FROM per GROUP BY lang"""),
    "token_counts_bpe" -> Gate(tokenCountsBpeQ,
      """SELECT doc_id,
         CAST(strlen(text)
           - (strlen(text) - strlen(replace(text, 'ab', ''))) // 2
           - (strlen(text) - strlen(replace(text, 'abc', ''))) // 3
           AS BIGINT) AS n_bpe_tokens
         FROM documents"""),
    "mix_budget_bpe" -> Gate(mixBudgetBpeQ,
      s"""WITH bpe AS (SELECT doc_id, source,
           CAST(strlen(text)
             - (strlen(text) - strlen(replace(text, 'ab', ''))) // 2
             - (strlen(text) - strlen(replace(text, 'abc', ''))) // 3
             AS BIGINT) AS n_bpe_tokens
           FROM documents),
         tot AS (SELECT source, CAST(sum(n_bpe_tokens) AS BIGINT) AS tk
           FROM bpe GROUP BY 1),
         fr AS (SELECT source,
             least(1.0, 10000 * (CASE WHEN source = 'src0' THEN 0.5
                                      WHEN source = 'src1' THEN 0.3
                                      ELSE 0.2 / 18 END) / tk) AS f
           FROM tot)
         SELECT d.doc_id, d.source, d.n_bpe_tokens
         FROM bpe d JOIN fr USING (source)
         WHERE ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000
           < round(f * 1000000)"""),
    "chunk_tokens_bpe" -> Gate(chunkTokensBpeQ,
      """WITH t AS (SELECT doc_id,
           strlen(text)
             - (strlen(text) - strlen(replace(text, 'ab', ''))) // 2
             - (strlen(text) - strlen(replace(text, 'abc', ''))) // 3
             AS total
         FROM documents),
         n AS (SELECT doc_id, total,
           greatest(1, CAST(ceil((total - 16) / 48.0) AS BIGINT)) AS nch
         FROM t),
         c AS (SELECT doc_id, total,
           unnest(range(0, nch)) AS cid FROM n)
         SELECT doc_id, CAST(cid AS INTEGER) AS chunk_id,
           CAST(least(cid * 48 + 64, total) - cid * 48 AS INTEGER) AS n_tokens
         FROM c"""),
    "trainer_feed" -> Gate(trainerFeedQ,
      s"""WITH bpe AS (SELECT doc_id, source,
           CAST(strlen(text)
             - (strlen(text) - strlen(replace(text, 'ab', ''))) // 2
             - (strlen(text) - strlen(replace(text, 'abc', ''))) // 3
             AS BIGINT) AS n_bpe_tokens
           FROM documents),
         tot AS (SELECT source, CAST(sum(n_bpe_tokens) AS BIGINT) AS tk
           FROM bpe GROUP BY 1),
         fr AS (SELECT source,
             least(1.0, 10000 * (CASE WHEN source = 'src0' THEN 0.5
                                      WHEN source = 'src1' THEN 0.3
                                      ELSE 0.2 / 18 END) / tk) AS f
           FROM tot),
         mixed AS (SELECT d.doc_id, d.n_bpe_tokens,
             ${dkHash("CAST(d.doc_id AS VARCHAR)")} AS h
           FROM bpe d JOIN fr USING (source)
           WHERE ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000
             < round(f * 1000000)),
         b AS (SELECT doc_id, n_bpe_tokens, h, h % 4 AS pack_bucket
           FROM mixed),
         c AS (SELECT *, COALESCE(sum(n_bpe_tokens) OVER (
             PARTITION BY pack_bucket ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
           FROM b)
         SELECT doc_id, n_bpe_tokens,
           CAST(pack_bucket AS BIGINT) AS pack_bucket,
           CAST(st // 512 AS BIGINT) AS pack_id,
           CAST(st % 512 AS BIGINT) AS pack_offset
         FROM c"""),
    "pack_materialize" -> Gate(packMaterializeQ, packMaterializeOracle),
    "classifier_train" -> Gate(classifierTrainQ,
      s"""${classifierOracle(10, "4.0")}
         SELECT bucket, wt AS weight FROM w10"""),
    "classifier_train_bigram" -> Gate(classifierTrainBigramQ,
      s"""${classifierOracle(10, "4.0", ngrams = 2)}
         SELECT bucket, wt AS weight FROM w10"""),
    "classifier_score_bigram" -> Gate(classifierScoreBigramQ,
      s"""${classifierOracle(10, "4.0", ngrams = 2)}
         SELECT d.doc_id, 1/(1+exp(-s.m)) AS score
         FROM d JOIN (SELECT f.doc_id, sum(f.x * w.wt) AS m
             FROM feat f JOIN w10 w USING (bucket) GROUP BY f.doc_id) s
         USING (doc_id)"""),
    "langid_train" -> Gate(langidTrainQ,
      s"""$langidModelCtes
         SELECT lang, gram, cnt FROM m"""),
    "source_roundtrip" -> Gate(sourceRoundtripQ,
      "SELECT doc_id, text, lang, source, n_chars FROM documents"),
    "layout_zorder" -> Gate(layoutZorderQ, dkZorder),
    // append + OPTIMIZE converges to the from-scratch layout's content
    // and z-values — oracle shared verbatim
    "layout_zorder_compact" -> Gate(layoutZorderCompactQ, dkZorder),
    "layout_zorder3" -> Gate(layoutZorder3Q, dkZorder3),
    "release_manifest" -> Gate(releaseManifestQ, dkReleaseManifest),
    // the checked path publishes the identical artifact once the
    // contract passes — manifest oracle shared verbatim
    "release_checked" -> Gate(releaseCheckedQ, dkReleaseManifest),
    // content-addressed sharding: the touched-shards-only append
    // telescopes exactly to the from-scratch manifest
    "release_append" -> Gate(releaseAppendQ, dkReleaseManifest),
    // takedown telescopes: the touched-shards-only rewrite must equal
    // a from-scratch publish of the survivors
    "release_delete" ->
      Gate(releaseDeleteQ, dkReleaseManifestWhere("doc_id % 7 <> 0")),
    "release_diff" -> Gate(releaseDiffQ,
      s"""WITH v AS (SELECT doc_id,
           ${dkHash("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
           doc_id % 2 = 0 AS in1,
           (doc_id % 2 = 0 AND doc_id % 14 <> 0)
             OR (doc_id % 2 <> 0 AND doc_id % 3 = 0) AS in2,
           doc_id % 10 = 0 AS rev FROM documents)
         SELECT doc_id, shard,
           CASE WHEN in1 AND NOT in2 THEN 'removed'
                WHEN in2 AND NOT in1 THEN 'added'
                WHEN in1 AND in2 AND rev THEN 'changed' END AS status
         FROM v
         WHERE (in1 AND NOT in2) OR (in2 AND NOT in1)
            OR (in1 AND in2 AND rev)"""),
    // compaction parity: layout changes, content doesn't — the
    // recomputed manifest equals the from-scratch one row-for-row
    "release_compact" -> Gate(releaseCompactQ, dkReleaseManifest),
    // the streamed snapshot = base corpus + curation survivors of the
    // streamed half, appended exactly once (the replay no-ops)
    "streaming_release" -> Gate(streamingReleaseQ,
      s"""WITH src AS (SELECT doc_id, text FROM documents
           WHERE doc_id % 3 <> 0
              OR (doc_id % 3 = 0 AND n_chars >= 300)),
         h AS (SELECT doc_id, text,
           ${dkHash("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
           ${dkHash("CAST(doc_id AS VARCHAR) || ':' || text")} AS dh
         FROM src)
         SELECT shard, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           bit_xor(dh) AS checksum
         FROM h GROUP BY 1"""),
    "dedup_overlap_matrix" -> Gate(dedupOverlapMatrixQ,
      """WITH p AS (SELECT CASE WHEN doc_id % 5 = 0
             THEN 'shared block number ' || (doc_id % 37)
             ELSE text END AS text, source FROM documents),
         hs AS (SELECT DISTINCT
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
             source FROM p),
         t AS (SELECT source, count(*) AS n FROM hs GROUP BY 1),
         sh AS (SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS shared
           FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
           GROUP BY 1, 2)
         SELECT source_a, source_b, shared,
           round(shared / CAST(ta.n + tb.n - shared AS DOUBLE), 6)
             AS jaccard,
           round(shared / CAST(ta.n AS DOUBLE), 6) AS containment_a,
           round(shared / CAST(tb.n AS DOUBLE), 6) AS containment_b
         FROM sh JOIN t ta ON sh.source_a = ta.source
           JOIN t tb ON sh.source_b = tb.source"""),
    "domain_report" -> Gate(domainReportQ,
      """WITH r AS (SELECT doc_id, length(text) AS len,
           'site' || (doc_id % 40) || '.com' AS host FROM documents),
         a AS (SELECT host, count(*) AS n_docs,
             CAST(sum(len) AS BIGINT) AS n_chars FROM r GROUP BY 1)
         SELECT host, n_docs, n_chars,
           round(n_docs / (SELECT CAST(sum(n_docs) AS DOUBLE) FROM a), 6)
             AS doc_share
         FROM a"""),
    // stream twin of the domain gates (blocklist + length + exact
    // dedup), projected to the arrival-order-free distinct hash set
    "streaming_curate_domains" -> Gate(streamingCurateDomainsQ,
      """SELECT DISTINCT
           md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS text_hash
         FROM documents
         WHERE doc_id % 40 <> 3 AND doc_id % 40 <> 17
           AND length(text) >= 250 AND length(text) <= 100000"""),
    "curate_domains" -> Gate(curateDomainsQ,
      s"""WITH u AS (SELECT doc_id, text, doc_id % 40 AS site
           FROM documents),
         nb AS (SELECT * FROM u WHERE site <> 3 AND site <> 17),
         hk AS (SELECT doc_id, text, site,
             ${dkHash("CAST(doc_id AS VARCHAR)")} AS h FROM nb),
         rk AS (SELECT doc_id, text, row_number() OVER (
             PARTITION BY site ORDER BY h % 4503599627370496, h) AS rn
           FROM hk),
         cap AS (SELECT doc_id, text FROM rk WHERE rn <= 8),
         lg AS (SELECT doc_id, text FROM cap
           WHERE length(text) >= 250 AND length(text) <= 100000),
         ex AS (SELECT min(doc_id) AS doc_id FROM lg
           GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')))
         SELECT doc_id,
           CASE WHEN h < 800000 THEN 'train'
                WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
             ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000 AS h FROM ex)"""),
    "langid_score" -> Gate(langidScoreQ,
      s"""$langidModelCtes,
         tot AS (SELECT lang, CAST(sum(cnt) AS DOUBLE) AS tot
           FROM m GROUP BY 1),
         vv AS (SELECT CAST(count(DISTINCT gram) AS DOUBLE) AS v FROM m),
         dg AS (SELECT doc_id, CASE WHEN length(t) >= 3
             THEN list_distinct([substr(t, CAST(i AS INTEGER), 3)
               for i in range(1, length(t) - 1)])
             ELSE [t] END AS sh FROM lt),
         de AS (SELECT doc_id, unnest(sh) AS gram FROM dg),
         nd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
           FROM de GROUP BY 1),
         hit AS (SELECT de.doc_id, m.lang, sum(ln(m.cnt + 1)) AS h
           FROM de JOIN m USING (gram) GROUP BY 1, 2)
         SELECT nd.doc_id, tot.lang,
           round(COALESCE(hit.h, 0)
             - n * ln(tot.tot + (SELECT v FROM vv)), 6) AS score
         FROM nd JOIN tot ON TRUE
         LEFT JOIN hit ON hit.doc_id = nd.doc_id AND hit.lang = tot.lang"""),
    "langid_segments" -> Gate(langidSegmentsQ,
      s"""$langidModelCtes,
         tot AS (SELECT lang, CAST(sum(cnt) AS DOUBLE) AS tot
           FROM m GROUP BY 1),
         vv AS (SELECT CAST(count(DISTINCT gram) AS DOUBLE) AS v FROM m),
         pl AS (SELECT doc_id,
             regexp_replace(text, '((?:\\S+ ){5}\\S+) ',
               '\\1' || chr(10), 'g') AS t0 FROM documents),
         ps AS (SELECT doc_id, string_split(t0, chr(10)) AS parts FROM pl),
         pe AS (SELECT doc_id,
             CAST(generate_subscripts(parts, 1) - 1 AS INTEGER) AS para_idx,
             unnest(parts) AS p FROM ps),
         pq AS (SELECT doc_id, para_idx, lower(p) AS t FROM pe
           WHERE length(trim(p)) > 0),
         dg AS (SELECT doc_id, para_idx, CASE WHEN length(t) >= 3
             THEN list_distinct([substr(t, CAST(i AS INTEGER), 3)
               for i in range(1, length(t) - 1)])
             ELSE [t] END AS sh FROM pq),
         de AS (SELECT doc_id, para_idx, unnest(sh) AS gram FROM dg),
         nd AS (SELECT doc_id, para_idx, CAST(count(*) AS BIGINT) AS n
           FROM de GROUP BY 1, 2),
         hit AS (SELECT de.doc_id, de.para_idx, m.lang,
             sum(ln(m.cnt + 1)) AS h
           FROM de JOIN m USING (gram) GROUP BY 1, 2, 3),
         sc AS (SELECT nd.doc_id, nd.para_idx, tot.lang,
             round(COALESCE(hit.h, 0)
               - n * ln(tot.tot + (SELECT v FROM vv)), 6) AS score
           FROM nd JOIN tot ON TRUE
           LEFT JOIN hit ON hit.doc_id = nd.doc_id
             AND hit.para_idx = nd.para_idx AND hit.lang = tot.lang),
         bst AS (SELECT doc_id, para_idx, lang AS para_lang FROM (
             SELECT *, row_number() OVER (PARTITION BY doc_id, para_idx
               ORDER BY score DESC, lang) AS rn FROM sc) WHERE rn = 1),
         dl AS (SELECT doc_id, para_lang AS doc_lang FROM (
             SELECT doc_id, para_lang,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY count(*) DESC, para_lang) AS rn
             FROM bst GROUP BY doc_id, para_lang) WHERE rn = 1)
         SELECT b.doc_id, b.para_idx, b.para_lang, dl.doc_lang
         FROM bst b JOIN dl USING (doc_id)"""),
    "classifier_score" -> Gate(classifierScoreQ, classifierScoreOracle),
    "pack_persist" -> Gate(packPersistQ,
      s"""WITH pm AS ($packMaterializeOracle)
         SELECT pm.*, CAST(512 AS BIGINT) AS seq_tokens,
           CAST(8 AS BIGINT) AS n_buckets,
           md5('a b' || chr(10) || 'ab c' || chr(10)) AS merges_fingerprint
         FROM pm"""),
    "pack_efficiency" -> Gate(packEfficiencyQ,
      s"""WITH d AS (SELECT doc_id, n_chars,
           ${dkHash("CAST(doc_id AS VARCHAR)")} AS h FROM documents),
         b AS (SELECT doc_id, n_chars, h, h % 8 AS pack_bucket FROM d),
         c AS (SELECT *, COALESCE(sum(n_chars) OVER (
             PARTITION BY pack_bucket ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
           FROM b),
         per AS (SELECT pack_bucket, CAST(sum(n_chars) AS BIGINT) AS t,
             count(*) AS docs,
             CAST(sum(CASE WHEN st % 2048 + n_chars > 2048
               THEN 1 ELSE 0 END) AS BIGINT) AS splits
           FROM c GROUP BY 1),
         e AS (SELECT t, docs, splits, (t + 2047) // 2048 AS packs,
             CASE WHEN t % 2048 = 0 THEN 0 ELSE 2048 - t % 2048 END AS pad
           FROM per)
         SELECT count(*) AS n_buckets,
           CAST(sum(docs) AS BIGINT) AS n_docs,
           CAST(sum(packs) AS BIGINT) AS n_packs,
           CAST(sum(t) AS BIGINT) AS total_tokens,
           CAST(sum(pad) AS BIGINT) AS padding_tokens,
           round(sum(t) / CAST(sum(t) + sum(pad) AS DOUBLE), 6)
             AS fill_rate,
           CAST(sum(splits) AS BIGINT) AS split_docs
         FROM e"""),
    "pack_sequences" -> Gate(packSequencesQ,
      s"""WITH d AS (SELECT doc_id, n_chars,
           ${dkHash("CAST(doc_id AS VARCHAR)")} AS h FROM documents),
         b AS (SELECT doc_id, n_chars, h, h % 8 AS pack_bucket FROM d),
         c AS (SELECT *, COALESCE(sum(n_chars) OVER (
             PARTITION BY pack_bucket ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
           FROM b)
         SELECT doc_id, n_chars, CAST(pack_bucket AS BIGINT) AS pack_bucket,
           CAST(st // 2048 AS BIGINT) AS pack_id,
           CAST(st % 2048 AS BIGINT) AS pack_offset
         FROM c"""),
    "split_assign" -> Gate(splitAssignQ,
      s"""SELECT doc_id,
         CASE WHEN h < 800000 THEN 'train'
              WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
             ${dkHash("CAST(doc_id AS VARCHAR)")} % 1000000 AS h
           FROM documents)"""),
    "split_leakage_safe" -> Gate(splitLeakageSafeQ,
      s"""WITH RECURSIVE pairs AS ($dkLshPairs),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         cc AS (
           SELECT DISTINCT src AS id, src AS label FROM edges
           UNION
           SELECT e.dst AS id, cc.label FROM cc JOIN edges e ON cc.id = e.src
         ),
         comp AS (SELECT id, min(label) AS component FROM cc GROUP BY id),
         r AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS root
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
         SELECT doc_id, root,
           CASE WHEN h < 800000 THEN 'train'
                WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id, root,
             ${dkHash("CAST(root AS VARCHAR)")} % 1000000 AS h FROM r)"""),
    "asof_join" -> Gate(asofJoinQ,
      """WITH r AS (SELECT o_custkey, o_orderdate,
             max(o_totalprice) AS prev_total
           FROM orders GROUP BY 1, 2)
         SELECT l.o_orderkey, l.o_custkey, l.o_orderdate, l.o_totalprice,
           r.prev_total
         FROM orders l ASOF LEFT JOIN r
           ON l.o_custkey = r.o_custkey AND l.o_orderdate > r.o_orderdate"""),
    "range_join" -> Gate(rangeJoinQ,
      """WITH r AS (SELECT o_orderkey AS band_id, o_totalprice AS lo,
             o_totalprice + 20000 AS hi
           FROM orders WHERE o_orderkey % 997 = 0)
         SELECT r.band_id, l.o_orderkey, l.o_totalprice
         FROM orders l JOIN r
           ON l.o_totalprice >= r.lo AND l.o_totalprice <= r.hi"""),
    "text_normalize" -> Gate(textNormalizeQ,
      s"""SELECT doc_id, trim(regexp_replace(lower(strip_accents(
           nfc_normalize(text || ' Caf\u00e9 \u00dcBER stra\u00dfe NA\u00cfVE e\u0301lan  x'))), '\\s+', ' ', 'g')) AS norm_text
         FROM documents"""),
    "doc_char_fingerprint" -> Gate(docCharFingerprintQ,
      s"""WITH d AS (SELECT doc_id, text || '\u0020\u65e5\u672c\u8a9e\u306e\u30c6\u30ad\u30b9\u30c8\u78ba\u8a8d' AS t FROM documents),
         g AS (SELECT doc_id, CASE WHEN length(t) >= 5
             THEN list_distinct([substr(t, CAST(i AS INTEGER), 5)
               for i in range(1, length(t) - 3)])
             ELSE [t] END AS sh FROM d)
         SELECT doc_id, md5(array_to_string(list_sort(
             [${dkHash("x")} for x in sh]), ' '))
           AS char_fingerprint FROM g"""),
    "pii_scrub" -> Gate(piiScrubQ,
      """WITH d AS (SELECT doc_id,
           text || ' contact user' || doc_id || '@example.com or 555-12' ||
           (doc_id % 10) || '-4567 from 10.0.' || (doc_id % 256) || '.1' AS t
         FROM documents)
         SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(t,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '(\+?[0-9]{1,2}[ .-])?\(?[0-9]{3}\)?[ .-][0-9]{3}[ .-][0-9]{4}', '<PHONE>', 'g'),
             '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS clean_text
         FROM d"""),
    "url_normalize" -> Gate(urlNormalizeQ,
      """WITH r AS (SELECT doc_id,
           'HTTPS://WWW.Example' || (doc_id % 50) || '.COM:443/Path'
             || (doc_id % 7) || '/?utm_source=s' || (doc_id % 3)
             || '&id=' || doc_id || '&fbclid=abc#sec' || (doc_id % 5) AS u
         FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(u, '#.*$', '') AS u FROM r),
         s2 AS (SELECT doc_id,
             lower(regexp_extract(u, '(^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) ||
             regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS u
           FROM s1),
         s3 AS (SELECT doc_id,
             regexp_replace(u, '^([a-z0-9+.-]*://)www\.', '\1') AS u FROM s2),
         s4 AS (SELECT doc_id,
             regexp_replace(u, '^(https://[^/:?]*):443([/?]|$)', '\1\2') AS u
           FROM s3),
         s5 AS (SELECT doc_id,
             regexp_replace(u, '^(http://[^/:?]*):80([/?]|$)', '\1\2') AS u
           FROM s4),
         s6 AS (SELECT doc_id,
             regexp_replace(u, '[?&](utm_[A-Za-z]+|gclid|fbclid)=[^&]*', '', 'g') AS u
           FROM s5),
         s7 AS (SELECT doc_id,
             regexp_replace(u, '^([^?&]*)&', '\1?') AS u FROM s6),
         s8 AS (SELECT doc_id, regexp_replace(u, '[?&/]+$', '') AS u FROM s7)
         SELECT s8.doc_id, s8.u AS url_norm,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             lower(regexp_extract(r.u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
             '^.*@', ''), ':[0-9]+$', ''), '\.+$', ''), '^www\.', '') AS host
         FROM s8 JOIN r ON s8.doc_id = r.doc_id"""),
    "quantize_int8" -> Gate(quantizeQ,
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         q AS (SELECT vec_id, vd,
             list_max([abs(x) for x in vd]) / 127.0 AS scale FROM v)
         SELECT vec_id, scale,
           array_to_string([CAST(floor(x / scale + 0.5) AS INTEGER)
             for x in vd], ',') AS q_csv
         FROM q"""),
    "knn_brute" -> Gate(knnBrute,
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
         sc AS (SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 6) AS cos_sim
           FROM q, c WHERE query_id <> neighbor_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS knn_rank FROM sc)
         SELECT query_id, neighbor_id, cos_sim, knn_rank FROM r WHERE knn_rank <= 5"""),
    "bitext_mine" -> Gate(bitextMineQ,
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         s AS (SELECT * FROM v WHERE vec_id % 2 = 0),
         tt AS (SELECT * FROM v WHERE vec_id % 2 = 1),
         f AS (SELECT s.vec_id AS sid, tt.vec_id AS tid,
             round(list_cosine_similarity(s.vd, tt.vd), 6) AS cs,
             row_number() OVER (PARTITION BY s.vec_id
               ORDER BY round(list_cosine_similarity(s.vd, tt.vd), 6) DESC,
                        tt.vec_id) AS rk
           FROM s, tt),
         b AS (SELECT tt.vec_id AS tid, s.vec_id AS sid,
             round(list_cosine_similarity(s.vd, tt.vd), 6) AS cs,
             row_number() OVER (PARTITION BY tt.vec_id
               ORDER BY round(list_cosine_similarity(s.vd, tt.vd), 6) DESC,
                        s.vec_id) AS rk
           FROM s, tt),
         fm AS (SELECT sid, round(sum(cs), 6) / count(*) AS m
           FROM f WHERE rk <= 4 GROUP BY 1),
         bm AS (SELECT tid, round(sum(cs), 6) / count(*) AS m
           FROM b WHERE rk <= 4 GROUP BY 1),
         c AS (SELECT f.sid, f.tid, f.cs,
             round(f.cs * 2 / (fm.m + bm.m), 6) AS margin
           FROM f JOIN fm USING (sid) JOIN bm USING (tid)
           WHERE f.rk <= 4),
         r AS (SELECT *, row_number() OVER (PARTITION BY sid
             ORDER BY margin DESC, tid) AS rn FROM c)
         SELECT sid AS src_id, tid AS tgt_id, cs AS cos_sim, margin
         FROM r WHERE rn = 1 AND margin >= 1.0"""),
    "bitext_mine_ivf" -> Gate(bitextMineIvfQ,
      """WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, vd AS cv FROM ve
           WHERE vec_id % 100 = 0),
         asg AS (SELECT vec_id, vd, centroid_id, vec_id % 2 AS side FROM (
             SELECT ve.vec_id, ve.vd, c.centroid_id,
               row_number() OVER (PARTITION BY ve.vec_id
                 ORDER BY round(list_cosine_similarity(vd, cv), 6) DESC,
                          centroid_id) AS rn
             FROM ve, c) WHERE rn = 1),
         f AS (SELECT a.vec_id AS sid, b.vec_id AS tid,
             round(list_cosine_similarity(a.vd, b.vd), 6) AS cs,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(a.vd, b.vd), 6) DESC,
                        b.vec_id) AS rk
           FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id
             AND a.side = 0 AND b.side = 1),
         b AS (SELECT b.vec_id AS tid, a.vec_id AS sid,
             round(list_cosine_similarity(a.vd, b.vd), 6) AS cs,
             row_number() OVER (PARTITION BY b.vec_id
               ORDER BY round(list_cosine_similarity(a.vd, b.vd), 6) DESC,
                        a.vec_id) AS rk
           FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id
             AND a.side = 0 AND b.side = 1),
         fm AS (SELECT sid, round(sum(cs), 6) / count(*) AS m
           FROM f WHERE rk <= 4 GROUP BY 1),
         bm AS (SELECT tid, round(sum(cs), 6) / count(*) AS m
           FROM b WHERE rk <= 4 GROUP BY 1),
         cc AS (SELECT f.sid, f.tid, f.cs,
             round(f.cs * 2 / (fm.m + bm.m), 6) AS margin
           FROM f JOIN fm USING (sid) JOIN bm USING (tid)
           WHERE f.rk <= 4),
         r AS (SELECT *, row_number() OVER (PARTITION BY sid
             ORDER BY margin DESC, tid) AS rn FROM cc)
         SELECT sid AS src_id, tid AS tgt_id, cs AS cos_sim, margin
         FROM r WHERE rn = 1 AND margin >= 1.0"""),
    "bitext_mine_ivfpq" -> Gate(bitextMineIvfPqQ,
      s"""WITH $dkPqEncTrained,
         sub2 AS (SELECT e.vec_id, e.j,
             [a.av[CAST(e.j*8+i+1 AS INTEGER)] for i in range(0,8)] AS sv
           FROM enc e JOIN a ON a.code = e.code),
         recon AS (SELECT vec_id, flatten(list(sv ORDER BY j)) AS rv
           FROM sub2 GROUP BY vec_id),
         cen AS (SELECT vec_id AS centroid_id, vd AS cv FROM v
           WHERE vec_id % 100 = 0),
         casg AS (SELECT vec_id, centroid_id, vec_id % 2 AS side FROM (
             SELECT v.vec_id, cen.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(vd, cv), 6) DESC,
                          centroid_id) AS rn
             FROM v, cen) WHERE rn = 1),
         fwd AS (SELECT qa.vec_id AS sid, qb.vec_id AS tid,
             round(list_cosine_similarity(qv.vd, r.rv), 6) AS cs,
             row_number() OVER (PARTITION BY qa.vec_id
               ORDER BY round(list_cosine_similarity(qv.vd, r.rv), 6) DESC,
                        qb.vec_id) AS rk
           FROM casg qa JOIN casg qb ON qa.centroid_id = qb.centroid_id
             AND qa.side = 0 AND qb.side = 1
           JOIN v qv ON qv.vec_id = qa.vec_id
           JOIN recon r ON r.vec_id = qb.vec_id),
         bwd AS (SELECT qb.vec_id AS tid, qa.vec_id AS sid,
             round(list_cosine_similarity(qv.vd, r.rv), 6) AS cs,
             row_number() OVER (PARTITION BY qb.vec_id
               ORDER BY round(list_cosine_similarity(qv.vd, r.rv), 6) DESC,
                        qa.vec_id) AS rk
           FROM casg qa JOIN casg qb ON qa.centroid_id = qb.centroid_id
             AND qa.side = 0 AND qb.side = 1
           JOIN v qv ON qv.vec_id = qb.vec_id
           JOIN recon r ON r.vec_id = qa.vec_id),
         fmm AS (SELECT sid, round(sum(cs), 6) / count(*) AS m
           FROM fwd WHERE rk <= 4 GROUP BY 1),
         bmm AS (SELECT tid, round(sum(cs), 6) / count(*) AS m
           FROM bwd WHERE rk <= 4 GROUP BY 1),
         ccm AS (SELECT fwd.sid, fwd.tid, fwd.cs,
             round(fwd.cs * 2 / (fmm.m + bmm.m), 6) AS margin
           FROM fwd JOIN fmm USING (sid) JOIN bmm USING (tid)
           WHERE fwd.rk <= 4),
         r2 AS (SELECT *, row_number() OVER (PARTITION BY sid
             ORDER BY margin DESC, tid) AS rn FROM ccm)
         SELECT sid AS src_id, tid AS tgt_id, cs AS cos_sim, margin
         FROM r2 WHERE rn = 1 AND margin >= 1.0"""),
    "ann_lsh_buckets" -> Gate(annLshBucketsQ,
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings)
         SELECT vec_id, CAST($dkLshBucketExpr AS BIGINT) AS bucket FROM v"""),
    "retrieval_recall" -> Gate(retrievalRecallQ,
      """WITH c AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
           FROM embeddings WHERE vec_id % 100 = 0),
         v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         asg AS (SELECT vec_id, centroid_id FROM (
             SELECT v.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(vd, cv), 6) DESC,
                          centroid_id) AS rn
             FROM v, c) WHERE rn = 1),
         ij AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(av.vd, bv.vd), 6) AS cos_sim
           FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id
             AND a.vec_id <> b.vec_id
           JOIN v av ON av.vec_id = a.vec_id
           JOIN v bv ON bv.vec_id = b.vec_id
           WHERE a.vec_id < 50),
         cand AS (SELECT query_id, neighbor_id FROM (SELECT *,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rk FROM ij)
           WHERE rk <= 5),
         bj AS (SELECT q.vec_id AS query_id, cv.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(q.vd, cv.vd), 6) DESC,
                        cv.vec_id) AS rk
           FROM v q, v cv WHERE q.vec_id < 50 AND q.vec_id <> cv.vec_id),
         truth AS (SELECT query_id, neighbor_id FROM bj WHERE rk <= 5)
         SELECT t.query_id, count(*) AS n_truth,
           CAST(count(c2.neighbor_id) AS BIGINT) AS n_hit,
           round(CAST(count(c2.neighbor_id) AS DOUBLE) / count(*), 6)
             AS recall
         FROM truth t LEFT JOIN cand c2
           ON t.query_id = c2.query_id AND t.neighbor_id = c2.neighbor_id
         GROUP BY 1"""),
    "retrieval_ndcg" -> Gate(retrievalNdcgQ,
      """WITH c AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
           FROM embeddings WHERE vec_id % 100 = 0),
         v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         asg AS (SELECT vec_id, centroid_id FROM (
             SELECT v.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(vd, cv), 6) DESC,
                          centroid_id) AS rn
             FROM v, c) WHERE rn = 1),
         ij AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(av.vd, bv.vd), 6) AS cos_sim
           FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id
             AND a.vec_id <> b.vec_id
           JOIN v av ON av.vec_id = a.vec_id
           JOIN v bv ON bv.vec_id = b.vec_id
           WHERE a.vec_id < 50),
         cand AS (SELECT query_id, neighbor_id,
             CAST(rk AS INTEGER) AS crk FROM (SELECT *,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rk FROM ij)
           WHERE rk <= 5),
         bj AS (SELECT q.vec_id AS query_id, cv.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(q.vd, cv.vd), 6) DESC,
                        cv.vec_id) AS rk
           FROM v q, v cv WHERE q.vec_id < 50 AND q.vec_id <> cv.vec_id),
         truth AS (SELECT query_id, neighbor_id FROM bj WHERE rk <= 5),
         g AS (SELECT t.query_id, count(*) AS n_truth,
             coalesce(sum(CASE WHEN c2.crk IS NOT NULL
               THEN 1.0 / log2(c2.crk + 1.0) END), 0.0) AS dcg0
           FROM truth t LEFT JOIN cand c2
             ON t.query_id = c2.query_id AND t.neighbor_id = c2.neighbor_id
           GROUP BY 1)
         SELECT query_id, n_truth, round(dcg0, 6) AS dcg,
           round(dcg0 / list_sum([1.0 / log2(i + 1.0)
             for i in range(1, CAST(n_truth AS INTEGER) + 1)]), 6) AS ndcg
         FROM g"""),
    "retrieval_mrr" -> Gate(retrievalMrrQ,
      """WITH c AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
           FROM embeddings WHERE vec_id % 100 = 0),
         v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         asg AS (SELECT vec_id, centroid_id FROM (
             SELECT v.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(vd, cv), 6) DESC,
                          centroid_id) AS rn
             FROM v, c) WHERE rn = 1),
         ij AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(av.vd, bv.vd), 6) AS cos_sim
           FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id
             AND a.vec_id <> b.vec_id
           JOIN v av ON av.vec_id = a.vec_id
           JOIN v bv ON bv.vec_id = b.vec_id
           WHERE a.vec_id < 50),
         cand AS (SELECT query_id, neighbor_id,
             CAST(rk AS INTEGER) AS crk FROM (SELECT *,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rk FROM ij)
           WHERE rk <= 5),
         bj AS (SELECT q.vec_id AS query_id, cv.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(q.vd, cv.vd), 6) DESC,
                        cv.vec_id) AS rk
           FROM v q, v cv WHERE q.vec_id < 50 AND q.vec_id <> cv.vec_id),
         truth AS (SELECT query_id, neighbor_id FROM bj WHERE rk <= 5),
         fh AS (SELECT t.query_id, min(c2.crk) AS first_hit_rank
           FROM truth t LEFT JOIN cand c2
             ON t.query_id = c2.query_id AND t.neighbor_id = c2.neighbor_id
           GROUP BY 1)
         SELECT query_id, first_hit_rank,
           CASE WHEN first_hit_rank IS NULL THEN 0.0
                ELSE round(1.0::DOUBLE / first_hit_rank, 6) END AS rr
         FROM fh"""),
    "ann_ivf_topk" -> Gate(annIvfTopKQ,
      """WITH c AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
           FROM embeddings WHERE vec_id % 100 = 0),
         v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         asg AS (SELECT vec_id, centroid_id FROM (
             SELECT v.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(vd, cv), 6) DESC,
                          centroid_id) AS rn
             FROM v, c) WHERE rn = 1),
         j AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(av.vd, bv.vd), 6) AS cos_sim
           FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id
             AND a.vec_id <> b.vec_id
           JOIN v av ON av.vec_id = a.vec_id
           JOIN v bv ON bv.vec_id = b.vec_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS knn_rank FROM j)
         SELECT query_id, neighbor_id, cos_sim, knn_rank FROM r WHERE knn_rank <= 5"""),
    "ann_ivf_multiprobe" -> Gate(annIvfMultiprobeQ,
      """WITH c AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
           FROM embeddings WHERE vec_id % 100 = 0),
         v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         ranked AS (SELECT v.vec_id, c.centroid_id,
             row_number() OVER (PARTITION BY v.vec_id
               ORDER BY round(list_cosine_similarity(vd, cv), 6) DESC,
                        centroid_id) AS rn
           FROM v, c),
         asg1 AS (SELECT vec_id, centroid_id FROM ranked WHERE rn = 1),
         asgp AS (SELECT vec_id, centroid_id FROM ranked WHERE rn <= 2),
         j AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(av.vd, bv.vd), 6) AS cos_sim
           FROM asgp a JOIN asg1 b ON a.centroid_id = b.centroid_id
             AND a.vec_id <> b.vec_id
           JOIN v av ON av.vec_id = a.vec_id
           JOIN v bv ON bv.vec_id = b.vec_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS knn_rank FROM j)
         SELECT query_id, neighbor_id, cos_sim, knn_rank FROM r WHERE knn_rank <= 5"""),
    "ivf_train" -> Gate(ivfTrainQ,
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         h AS (SELECT vec_id, vd,
             CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT) AS hk
           FROM v),
         seeds AS (SELECT vec_id, vd,
             CAST(row_number() OVER (ORDER BY hk, vec_id) - 1 AS BIGINT) AS centroid_id
           FROM (SELECT * FROM h ORDER BY hk, vec_id LIMIT 8)),
         asg AS (SELECT vec_id, vd, centroid_id FROM (
             SELECT v.vec_id, v.vd, s.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.vd, s.vd), 6) DESC,
                          s.centroid_id) AS rn
             FROM v, seeds s) WHERE rn = 1),
         rec AS (SELECT centroid_id, pos, avg(x) AS m FROM (
             SELECT centroid_id,
               CAST(generate_subscripts(vd,1)-1 AS INTEGER) AS pos,
               unnest(vd) AS x FROM asg)
           GROUP BY 1, 2),
         newc AS (SELECT centroid_id, list(m ORDER BY pos) AS nv
           FROM rec GROUP BY 1)
         SELECT s.centroid_id,
           array_to_string([printf('%.6f', round(x, 6))
             for x in coalesce(n.nv, s.vd)], ',') AS centroid
         FROM seeds s LEFT JOIN newc n USING (centroid_id)"""),
    "embed_l2norm" -> Gate(embedL2NormQ,
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         n AS (SELECT vec_id, vd,
             sqrt(list_sum([x*x for x in vd])) AS nm FROM v)
         SELECT vec_id, array_to_string([printf('%.6f', round(x / nm, 6))
           for x in vd], ',') AS unit_csv
         FROM n"""),
    "embed_centroids" -> Gate(embedCentroidsQ,
      """WITH v AS (SELECT label, embedding::DOUBLE[] AS vd FROM embeddings),
         rec AS (SELECT label,
             CAST(generate_subscripts(vd,1)-1 AS INTEGER) AS pos,
             unnest(vd) AS x FROM v),
         ag AS (SELECT label, pos, avg(x) AS m FROM rec GROUP BY 1, 2)
         SELECT label, array_to_string([printf('%.6f', round(x, 6))
           for x in list(m ORDER BY pos)], ',') AS centroid_csv
         FROM ag GROUP BY label"""),
    "pq_encode" -> Gate(pqEncodeQ,
      s"""WITH $dkPqEnc
         SELECT vec_id, array_to_string(list(code ORDER BY j), ',') AS codes_csv
         FROM enc GROUP BY vec_id"""),
    "pq_train" -> Gate(pqTrainQ,
      s"""WITH $dkPqTrainCTEs
         SELECT sub, code, array_to_string([printf('%.6f', round(x, 6))
           for x in cv], ',') AS centroid_csv
         FROM tc"""),
    "ann_pq_topk" -> Gate(annPqTopKQ,
      s"""WITH $dkPqEncTrained,
         sub AS (SELECT e.vec_id, e.j,
             [a.av[CAST(e.j*8+i+1 AS INTEGER)] for i in range(0,8)] AS sv
           FROM enc e JOIN a ON a.code = e.code),
         recon AS (SELECT vec_id, flatten(list(sv ORDER BY j)) AS rv
           FROM sub GROUP BY vec_id),
         q AS (SELECT vec_id AS query_id, vd AS qv FROM v WHERE vec_id < 10),
         sc AS (SELECT query_id, r.vec_id AS neighbor_id,
             round(list_cosine_similarity(qv, rv), 6) AS cos_sim
           FROM q, recon r WHERE query_id <> r.vec_id),
         rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS knn_rank FROM sc)
         SELECT query_id, neighbor_id, cos_sim, knn_rank FROM rk
         WHERE knn_rank <= 5"""),
    "ann_ivfpq_topk" -> Gate(annIvfPqTopKQ,
      s"""WITH $dkIvfPqAdcCtes
         SELECT query_id, neighbor_id, cos_sim, knn_rank FROM rk
         WHERE knn_rank <= 5"""),
    "ann_ivfpq_refined" -> Gate(annIvfPqRefinedQ, dkIvfPqRefinedSql),
    // shared VERBATIM: the persisted-index refined probe must not move
    // a single score vs the in-session form
    "ann_index_refined" -> Gate(annIndexRefinedQ, dkIvfPqRefinedSql),
    "ann_ivfpq_refine_recall" -> Gate(annIvfPqRefineRecallQ,
      s"""WITH $dkIvfPqAdcCtes,
         cand_adc AS (SELECT query_id, neighbor_id FROM rk
           WHERE knn_rank <= 5),
         cand20 AS (SELECT query_id, neighbor_id FROM rk
           WHERE knn_rank <= 20),
         ex AS (SELECT cd.query_id, cd.neighbor_id,
             round(list_cosine_similarity(qv.vd, nv.vd), 6) AS cos_sim
           FROM cand20 cd
           JOIN v qv ON qv.vec_id = cd.query_id
           JOIN v nv ON nv.vec_id = cd.neighbor_id),
         cand_ref AS (SELECT query_id, neighbor_id FROM (SELECT *,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rk2 FROM ex)
           WHERE rk2 <= 5),
         bj AS (SELECT q.vec_id AS query_id, cv.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(q.vd, cv.vd), 6) DESC,
                        cv.vec_id) AS trk
           FROM v q, v cv WHERE q.vec_id < 10 AND q.vec_id <> cv.vec_id),
         truth AS (SELECT query_id, neighbor_id FROM bj WHERE trk <= 5),
         ra AS (SELECT t.query_id,
             round(CAST(count(a2.neighbor_id) AS DOUBLE) / count(*), 6)
               AS recall_adc
           FROM truth t LEFT JOIN cand_adc a2
             ON t.query_id = a2.query_id AND t.neighbor_id = a2.neighbor_id
           GROUP BY 1),
         rr AS (SELECT t.query_id,
             round(CAST(count(r2.neighbor_id) AS DOUBLE) / count(*), 6)
               AS recall_refined
           FROM truth t LEFT JOIN cand_ref r2
             ON t.query_id = r2.query_id AND t.neighbor_id = r2.neighbor_id
           GROUP BY 1)
         SELECT ra.query_id, ra.recall_adc, rr.recall_refined
         FROM ra JOIN rr ON ra.query_id = rr.query_id"""),
    "ann_ivfpq_residual" -> Gate(annIvfPqResidualQ, dkIvfPqResidualSql),
    "ann_index_persist" -> Gate(annIndexPersistQ, dkIvfPqResidualSql),
    "ann_index_append" -> Gate(annIndexAppendQ, dkIvfPqResidualSql),
    // compaction is a pure layout rewrite of the appended index —
    // bit-identical search, oracle shared verbatim
    "ann_index_compact" -> Gate(annIndexCompactQ, dkIvfPqResidualSql),
    // retrain rebuilds quantizers+codes from the current corpus — the
    // post-swap search must equal a from-scratch build (same oracle,
    // verbatim); the stale pre-retrain artifacts return different rows
    "ann_index_retrain" -> Gate(annIndexRetrainQ, dkIvfPqResidualSql),
    "group_topk" -> Gate(groupTopKQ,
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
           FROM orders)
         WHERE rk <= 3"""),
    "ngram_freq" -> Gate(ngramFreqQ,
      """WITH w AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS ws
           FROM documents),
         g AS (SELECT doc_id,
             unnest([array_to_string(ws[i:i+2], ' ')
               for i in range(1, len(ws)-1)]) AS ngram
           FROM w WHERE len(ws) >= 3),
         d AS (SELECT ngram, doc_id, count(*) AS tf FROM g GROUP BY 1, 2)
         SELECT ngram, CAST(sum(tf) AS BIGINT) AS term_freq,
           count(*) AS doc_freq
         FROM d GROUP BY 1 HAVING sum(tf) >= 5"""),
    "heavy_hitters_grouped" -> Gate(heavyHittersGroupedQ,
      """WITH w AS (SELECT doc_id, lang,
             string_split_regex(trim(lower(text)), '\s+') AS ws
           FROM documents),
         g AS (SELECT doc_id, lang,
             unnest([array_to_string(ws[i:i+1], ' ')
               for i in range(1, len(ws))]) AS ngram
           FROM w WHERE len(ws) >= 2),
         d AS (SELECT lang, ngram, doc_id, count(*) AS tf
           FROM g GROUP BY 1, 2, 3)
         SELECT lang, ngram, CAST(sum(tf) AS BIGINT) AS term_freq,
           count(*) AS doc_freq
         FROM d GROUP BY 1, 2 HAVING sum(tf) >= 5"""),
    "classifier_eval" -> Gate(classifierEvalQ,
      s"""${classifierOracle(10, "4.0")},
         sc AS (SELECT d.doc_id,
             CASE WHEN d.doc_id % 11 = 0 THEN 1 ELSE 0 END AS pos,
             round(1/(1+exp(-s.m)), 6) AS score
           FROM d JOIN (SELECT f.doc_id, sum(f.x * w.wt) AS m
               FROM feat f JOIN w10 w USING (bucket) GROUP BY f.doc_id) s
           USING (doc_id)),
         th AS (SELECT j / 20.0 AS threshold FROM range(0, 21) t(j)),
         cm AS (SELECT th.threshold,
             CAST(SUM(CASE WHEN pos = 1 AND score > threshold
               THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN pos = 0 AND score > threshold
               THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN pos = 1 AND NOT score > threshold
               THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN pos = 0 AND NOT score > threshold
               THEN 1 ELSE 0 END) AS BIGINT) AS tn
           FROM sc, th GROUP BY 1)
         SELECT threshold, tp, fp, fn, tn,
           round(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6) AS precision,
           round(CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 6) AS recall
         FROM cm"""),
    // the CMS prefilter never changes the answer (no false negatives;
    // false positives die in the exact confirm) — the oracle is the
    // exact bigram heavy-hitter count
    "heavy_hitters" -> Gate(heavyHittersQ,
      """WITH w AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS ws
           FROM documents),
         g AS (SELECT doc_id,
             unnest([array_to_string(ws[i:i+1], ' ')
               for i in range(1, len(ws))]) AS ngram
           FROM w WHERE len(ws) >= 2),
         d AS (SELECT ngram, doc_id, count(*) AS tf FROM g GROUP BY 1, 2)
         SELECT ngram, CAST(sum(tf) AS BIGINT) AS term_freq,
           count(*) AS doc_freq
         FROM d GROUP BY 1 HAVING sum(tf) >= 8"""),
    "skew_join" -> Gate(skewJoinQ,
      """SELECT l_orderkey AS okey, l_quantity, o_totalprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""),
    "ann_lsh_topk" -> Gate(annLshTopKQ,
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         bk AS (SELECT vec_id, vd, CAST($dkLshBucketExpr AS BIGINT) AS bucket FROM v),
         sc AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(a.vd, b.vd), 6) AS cos_sim
           FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS knn_rank FROM sc)
         SELECT query_id, neighbor_id, cos_sim, knn_rank FROM r WHERE knn_rank <= 5"""),
    "ann_lsh_multiprobe" -> Gate(annLshMultiprobeQ,
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         d AS (SELECT vec_id, vd, $dkLshDots AS dots FROM v),
         bs AS (SELECT vec_id, vd, dots,
             CAST($dkLshBucketFromDots AS BIGINT) AS bucket FROM d),
         o AS (SELECT vec_id, vd, bucket,
             list_sort([{'m': abs(dots[j+1]), 'j': j} for j in range(0,8)]) AS ord
           FROM bs),
         pr AS (SELECT vec_id, vd, unnest([bucket,
             xor(bucket, 1::BIGINT << o.ord[1].j),
             xor(bucket, 1::BIGINT << o.ord[2].j)]) AS bucket FROM o),
         sc AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(a.vd, b.vd), 6) AS cos_sim
           FROM pr a JOIN bs b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS knn_rank FROM sc)
         SELECT query_id, neighbor_id, cos_sim, knn_rank FROM r WHERE knn_rank <= 5"""),
    "text_stats" -> Gate(textStats,
      s"""WITH w AS (SELECT doc_id, text, string_split_regex(trim(lower(text)), '\\s+') AS ws FROM documents)
         SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars_m,
           CAST(len(ws) AS INTEGER) AS n_words,
           round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(ws), 6) AS avg_word_len,
           round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6) AS distinct_ratio,
           round(CAST(len(list_filter(ws, x -> x IN (${dkStopFilter("en")}))) AS DOUBLE) / len(ws), 6) AS stopword_ratio
         FROM w"""),
    "lang_id" -> Gate(langIdQ,
      s"""WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws FROM documents),
         sc AS (SELECT doc_id,
           CAST(len(list_filter(ws, x -> x IN (${dkStopFilter("en")}))) AS INTEGER) AS score_en,
           CAST(len(list_filter(ws, x -> x IN (${dkStopFilter("de")}))) AS INTEGER) AS score_de,
           CAST(len(list_filter(ws, x -> x IN (${dkStopFilter("es")}))) AS INTEGER) AS score_es,
           CAST(len(list_filter(ws, x -> x IN (${dkStopFilter("fr")}))) AS INTEGER) AS score_fr
         FROM w)
         SELECT *, CASE
           WHEN greatest(score_en, score_de, score_es, score_fr) = 0 THEN 'und'
           WHEN score_en = greatest(score_en, score_de, score_es, score_fr) THEN 'en'
           WHEN score_de = greatest(score_en, score_de, score_es, score_fr) THEN 'de'
           WHEN score_es = greatest(score_en, score_de, score_es, score_fr) THEN 'es'
           ELSE 'fr' END AS pred_lang
         FROM sc"""),
    "token_counts" -> Gate(tokenCountsQ,
      """WITH w AS (SELECT doc_id, text,
           string_split_regex(trim(lower(text)), '\s+') AS ws,
           regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]') AS re_toks
         FROM documents)
         SELECT doc_id, CAST(len(ws) AS INTEGER) AS n_ws_tokens,
           CAST(len(re_toks) AS INTEGER) AS n_re_tokens,
           round(CAST(length(text) AS DOUBLE) / NULLIF(len(re_toks), 0), 6) AS chars_per_token
         FROM w"""),
    "doc_fingerprint" -> Gate(fingerprintQ,
      s"""WITH $dkShingles
         SELECT doc_id, md5(array_to_string(list_sort(sh), ' ')) AS fingerprint FROM s"""),
    "text_vocabulary" -> Gate(textVocabulary,
      """SELECT word, count(*) AS term_freq,
         count(DISTINCT doc_id) AS doc_freq
         FROM (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
           FROM documents)
         GROUP BY 1"""),
    "bigram_surprisal" -> Gate(bigramSurprisalQ,
      """WITH w AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS ws
           FROM documents),
         u AS (SELECT unnest(ws) AS word FROM w),
         v AS (SELECT word, count(*) AS uc FROM u GROUP BY 1),
         t AS (SELECT CAST(sum(uc) AS DOUBLE) AS total FROM v),
         b AS (SELECT doc_id, ws[i] AS prev, ws[i+1] AS word
           FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
             FROM w WHERE len(ws) >= 2)),
         bc AS (SELECT prev, word, count(*) AS bc FROM b GROUP BY 1, 2),
         pc AS (SELECT prev, count(*) AS pc FROM b GROUP BY 1)
         SELECT doc_id,
           round(avg(-ln(0.9 * (CAST(bc AS DOUBLE) / pc)
             + 0.1 * (CAST(uc AS DOUBLE) / total))), 6) AS surprisal
         FROM b JOIN bc USING (prev, word) JOIN pc USING (prev)
           JOIN v USING (word), t
         GROUP BY doc_id"""),
    "unigram_surprisal" -> Gate(unigramSurprisalQ,
      """WITH w AS (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
           FROM documents),
         v AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
         t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM v)
         SELECT doc_id,
           round(avg(-ln(CAST(cnt AS DOUBLE) / total)), 6) AS surprisal
         FROM w JOIN v USING (word), t GROUP BY doc_id"""),
    "quality_buckets" -> Gate(qualityBucketsQ, dkQualityBuckets),
    "curate_ccnet" -> Gate(curateCcnetQ,
      """WITH t0 AS (SELECT doc_id, lang, text FROM documents
             WHERE length(text) >= 100),
         ex AS (SELECT min(doc_id) AS doc_id FROM t0
           GROUP BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))),
         sv AS (SELECT t0.doc_id, t0.lang, t0.text
           FROM t0 JOIN ex USING (doc_id)),
         w AS (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
           FROM sv),
         v AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
         t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM v),
         s AS (SELECT doc_id,
             round(avg(-ln(CAST(cnt AS DOUBLE) / total)), 6) AS surprisal
           FROM w JOIN v USING (word), t GROUP BY doc_id),
         sc AS (SELECT sv.doc_id, sv.lang, s.surprisal
           FROM sv JOIN s USING (doc_id)),
         c AS (SELECT lang, surprisal, count(*) AS c FROM sc GROUP BY 1, 2),
         cum AS (SELECT lang, surprisal,
             sum(c) OVER (PARTITION BY lang ORDER BY surprisal
               ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY lang) AS tot
           FROM c),
         b AS (SELECT lang, surprisal,
             CASE WHEN cum <= (1.0/3) * tot THEN 'head'
                  WHEN cum <= (1.0/3 + 1.0/3) * tot THEN 'middle'
                  ELSE 'tail' END AS bucket
           FROM cum),
         keep AS (SELECT sc.doc_id FROM sc JOIN b USING (lang, surprisal)
           WHERE b.bucket IN ('head', 'middle'))
         SELECT doc_id,
           CASE WHEN h < 800000 THEN 'train'
                WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
               % 1000000 AS h FROM keep)"""),
    "streaming_quality_buckets" ->
      Gate(streamingQualityBucketsQ, dkQualityBuckets),
    "text_len_quantiles" -> Gate(textLenQuantiles,
      """SELECT lang, round(quantile_cont(n_chars, 0.25), 6) AS p25,
         round(quantile_cont(n_chars, 0.5), 6) AS p50,
         round(quantile_cont(n_chars, 0.75), 6) AS p75,
         count(*) AS n_docs
         FROM documents GROUP BY 1"""),
    "text_quality_flags" -> Gate(textQualityFlags, oracleSqlQualityFlags),
    "bm25_score" -> Gate(bm25ScoreQ, oracleSqlBm25),
    "embedding_outliers" -> Gate(embeddingOutliersQ,
      """WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, vd AS cv FROM ve
           WHERE vec_id % 100 = 0),
         asg AS (SELECT vec_id, centroid_id, cs FROM (
             SELECT v.vec_id, c.centroid_id,
               round(list_cosine_similarity(v.vd, c.cv), 6) AS cs,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.vd, c.cv), 6) DESC,
                          c.centroid_id) AS rn
             FROM ve v, c) WHERE rn = 1),
         st AS (SELECT centroid_id, count(*) AS n,
             round(sum(cs), 6) AS s1, round(sum(cs * cs), 6) AS s2
           FROM asg GROUP BY 1),
         j AS (SELECT a.vec_id, a.centroid_id, a.cs,
             st.s1 / st.n AS m,
             sqrt(greatest(st.s2 / st.n
               - (st.s1 / st.n) * (st.s1 / st.n), 0)) AS sd
           FROM asg a JOIN st USING (centroid_id))
         SELECT vec_id, centroid_id, cs AS cos_sim,
           round(m, 6) AS cluster_mean,
           cs < m - 1.0 * sd AS flagged
         FROM j"""),
    "script_ratios" -> Gate(scriptRatiosQ,
      """WITH src AS (SELECT doc_id, CASE
           WHEN doc_id % 19 = 0 THEN 'Привет мир это русский текст документа'
           WHEN doc_id % 19 = 5 THEN '日本語のテキスト mixed with ラテン and 漢字'
           WHEN doc_id = 7 THEN 'مرحبا بالعالم'
           ELSE text END AS text FROM documents),
         c AS (SELECT doc_id,
             length(regexp_replace(text, '\s', '', 'g')) AS n,
             length(regexp_replace(text, '[^\p{Latin}]', '', 'g')) AS l,
             length(regexp_replace(text, '[^\p{Cyrillic}]', '', 'g')) AS cy,
             length(regexp_replace(text,
               '[^\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}]', '', 'g')) AS k,
             length(regexp_replace(text, '[^\p{Arabic}]', '', 'g')) AS a
           FROM src)
         SELECT doc_id,
           round(CAST(l AS DOUBLE) / greatest(n, 1), 6) AS frac_latin,
           round(CAST(cy AS DOUBLE) / greatest(n, 1), 6) AS frac_cyrillic,
           round(CAST(k AS DOUBLE) / greatest(n, 1), 6) AS frac_cjk,
           round(CAST(a AS DOUBLE) / greatest(n, 1), 6) AS frac_arabic,
           CASE WHEN n = 0 THEN 'empty'
                WHEN l + cy + k + a = 0 THEN 'other'
                WHEN l >= cy AND l >= k AND l >= a THEN 'latin'
                WHEN cy >= k AND cy >= a THEN 'cyrillic'
                WHEN k >= a THEN 'cjk'
                ELSE 'arabic' END AS script
         FROM c"""),
    "char_entropy" -> Gate(charEntropyQ,
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
           FROM documents),
         cc AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
         e AS (SELECT doc_id, CAST(sum(k) AS DOUBLE) AS n,
             sum(k * log2(k)) AS s FROM cc GROUP BY 1)
         SELECT d.doc_id,
           CASE WHEN e.doc_id IS NULL THEN 0.0
                ELSE round(log2(e.n) - e.s / e.n, 6) END AS entropy
         FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id"""),
    "mine_hard_negatives" -> Gate(mineHardNegativesQ,
      """WITH ve AS (SELECT vec_id, label, embedding::DOUBLE[] AS vd
           FROM embeddings),
         kn AS (SELECT q.vec_id AS query_id, cv.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.vd, cv.vd), 6) AS cos_sim,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(q.vd, cv.vd), 6) DESC,
                        cv.vec_id) AS rk
           FROM ve q, ve cv WHERE q.vec_id < 40 AND q.vec_id <> cv.vec_id),
         cand AS (SELECT query_id, neighbor_id, cos_sim
           FROM kn WHERE rk <= 8),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM ve a
           JOIN ve b ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE round(list_cosine_similarity(a.vd, b.vd), 6) >= 0.3),
         dup AS (SELECT id_a AS query_id, id_b AS neighbor_id FROM p
           UNION ALL SELECT id_b, id_a FROM p),
         kept AS (SELECT c.* FROM cand c ANTI JOIN dup d
           ON c.query_id = d.query_id AND c.neighbor_id = d.neighbor_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS neg_rank
           FROM kept)
         SELECT query_id, neighbor_id, cos_sim, neg_rank
         FROM r WHERE neg_rank <= 3"""),
    "gram_exposure" -> Gate(gramExposureQ,
      """WITH tt AS (SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               w -> len(w) > 0) AS ws
           FROM documents),
         tg AS (SELECT doc_id, array_to_string(ws[i:i+12], ' ') AS g
           FROM (SELECT doc_id, ws,
               unnest(CASE WHEN len(ws) >= 13
                 THEN range(1, len(ws) - 11) ELSE [] END) AS i
             FROM tt)),
         nd AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS ndocs
             FROM tg GROUP BY 1) WHERE ndocs >= 2),
         tot AS (SELECT doc_id, count(*) AS n_grams FROM tg GROUP BY 1),
         dup AS (SELECT doc_id, count(*) AS dup_grams
           FROM tg SEMI JOIN nd USING (g) GROUP BY 1)
         SELECT d.doc_id,
           coalesce(tot.n_grams, 0) AS n_grams,
           coalesce(dup.dup_grams, 0) AS dup_grams,
           CASE WHEN coalesce(tot.n_grams, 0) = 0 THEN 0.0
                ELSE round(CAST(coalesce(dup.dup_grams, 0) AS DOUBLE)
                  / tot.n_grams, 6) END AS exposure
         FROM documents d
         LEFT JOIN tot ON d.doc_id = tot.doc_id
         LEFT JOIN dup ON d.doc_id = dup.doc_id"""),
    "tfidf_top_terms" -> Gate(tfidfTopTermsQ,
      """WITH toks AS (SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               w -> len(w) > 0) AS ws
           FROM documents),
         tf AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         tfc AS (SELECT doc_id, term, count(*) AS tfr
           FROM tf GROUP BY 1, 2),
         dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS dfr
           FROM tfc GROUP BY 1),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks),
         sc AS (SELECT tfc.doc_id, tfc.term,
             round(tfc.tfr * (ln((1 + st.n) / (1 + dfq.dfr)) + 1), 6)
               AS tfidf
           FROM tfc JOIN dfq USING (term), st),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY tfidf DESC, term) AS INTEGER) AS rk FROM sc)
         SELECT doc_id, term, tfidf, rk FROM r WHERE rk <= 3"""),
    "tfidf_cosine_pairs" -> Gate(tfidfCosinePairsQ,
      """WITH fix AS (SELECT doc_id, text FROM documents
           WHERE doc_id % 10 = 0),
         toks AS (SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               w -> len(w) > 0) AS ws
           FROM fix),
         tfc AS (SELECT doc_id, term, count(*) AS tfr
           FROM (SELECT doc_id, unnest(ws) AS term FROM toks)
           GROUP BY 1, 2),
         dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS dfr
           FROM tfc GROUP BY 1),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks),
         w AS (SELECT tfc.doc_id, tfc.term,
             tfc.tfr * (ln((1 + st.n) / (1 + dfq.dfr)) + 1) AS w
           FROM tfc JOIN dfq USING (term), st),
         nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nn FROM w GROUP BY 1),
         u AS (SELECT w.doc_id, w.term, w.w / nrm.nn AS u
           FROM w JOIN nrm USING (doc_id)),
         dot AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(sum(a.u * b.u), 6) AS cos_sim
           FROM u a JOIN u b ON a.term = b.term AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b, cos_sim FROM dot WHERE cos_sim >= 0.85"""),
    "vocab_oov" -> Gate(vocabOovQ, dkVocabOov),
    // the persisted-artifact probe and the streamed-build probe both
    // reduce to the same term set (set union telescopes), so the OOV
    // family shares ONE oracle verbatim
    "vocab_index_oov" -> Gate(vocabIndexOovQ, dkVocabOov),
    "streaming_vocab" -> Gate(streamingVocabQ, dkVocabOov),
    "vocab_oov_by_lang" -> Gate(vocabOovByLangQ,
      """WITH ref AS (SELECT DISTINCT unnest(list_filter(
             string_split_regex(trim(lower(text)), '\s+'),
             w -> len(w) > 0)) AS term
           FROM documents WHERE doc_id % 3 <> 0),
         bt AS (SELECT lang, unnest(list_filter(string_split_regex(
             trim(lower(CASE WHEN doc_id % 9 = 0
               THEN text || ' zzznovel' || CAST(doc_id AS VARCHAR)
               ELSE text END)), '\s+'),
             w -> len(w) > 0)) AS term
           FROM documents WHERE doc_id % 3 = 0),
         bc AS (SELECT lang, term, count(*) AS n FROM bt GROUP BY 1, 2),
         j AS (SELECT bc.lang, bc.term, bc.n,
             CASE WHEN ref.term IS NULL THEN 1 ELSE 0 END AS oov
           FROM bc LEFT JOIN ref ON bc.term = ref.term)
         SELECT lang AS "group",
           CAST(COALESCE(sum(n), 0) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           CAST(COALESCE(sum(oov * n), 0) AS BIGINT) AS oov_tokens,
           CAST(COALESCE(sum(oov), 0) AS BIGINT) AS oov_types,
           round(COALESCE(sum(oov * n), 0)
             / CAST(GREATEST(COALESCE(sum(n), 0), 1) AS DOUBLE), 6)
             AS token_rate,
           round(COALESCE(sum(oov), 0)
             / CAST(GREATEST(count(*), 1) AS DOUBLE), 6) AS type_rate
         FROM j GROUP BY lang"""),
    // the three index-artifact gates REPLAY the direct form's oracle:
    // probe/append/streaming-ingest parity IS their contract
    "bm25_index_probe" -> Gate(bm25IndexProbeQ, oracleSqlBm25),
    "bm25_index_append" -> Gate(bm25IndexAppendQ, oracleSqlBm25),
    "streaming_bm25_ingest" -> Gate(streamingBm25IngestQ, oracleSqlBm25),
    "streaming_bm25_probe" -> Gate(streamingBm25ProbeQ, oracleSqlBm25),
    "retrieval_hybrid_rrf" -> Gate(retrievalHybridRrfQ, oracleSqlHybridRrf),
    "license_tag" -> Gate(licenseTagQ,
      """WITH p AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN
           (CASE doc_id % 7
             WHEN 0 THEN 'SPDX-License-Identifier: MIT'
             WHEN 1 THEN 'Permission is hereby granted, free of charge, to any person'
             WHEN 2 THEN 'Licensed under the Apache License, Version 2.0 (the License)'
             WHEN 3 THEN 'This program is free software under the GNU General Public License version 3'
             WHEN 4 THEN 'Redistribution and use in source and binary forms, with or without modification'
             WHEN 5 THEN 'Subject to the Mozilla Public License'
             ELSE 'This work is licensed under a Creative Commons license'
           END) || chr(10) || text
           ELSE text END AS text FROM documents)
         SELECT doc_id, CASE
           WHEN regexp_extract(text, 'SPDX-License-Identifier:\s*([A-Za-z0-9.+-]+)', 1) <> ''
             THEN regexp_extract(text, 'SPDX-License-Identifier:\s*([A-Za-z0-9.+-]+)', 1)
           WHEN contains(text, 'Permission is hereby granted, free of charge') THEN 'MIT'
           WHEN contains(text, 'Apache License') AND contains(text, 'Version 2.0') THEN 'Apache-2.0'
           WHEN contains(text, 'GNU General Public License') THEN
             (CASE WHEN contains(text, 'version 3') THEN 'GPL-3.0'
                   WHEN contains(text, 'version 2') THEN 'GPL-2.0'
                   ELSE 'GPL' END)
           WHEN contains(text, 'Redistribution and use in source and binary forms') THEN 'BSD'
           WHEN contains(text, 'Mozilla Public License') THEN 'MPL-2.0'
           WHEN contains(text, 'Creative Commons') THEN 'CC'
           ELSE NULL END AS license
         FROM p"""),
    "code_quality" -> Gate(codeQualityQ,
      """WITH p AS (SELECT doc_id, CASE
           WHEN doc_id % 10 = 0 THEN text || chr(10) || repeat('x', 1200)
           WHEN doc_id % 10 = 1 THEN replace(text, ' ', chr(10))
           WHEN doc_id % 10 = 2 THEN text || chr(10) || repeat('QUJDRA==', 10)
           WHEN doc_id % 10 = 3 THEN '// Auto-Generated do not edit' || chr(10) || text
           ELSE text END AS text FROM documents),
         m AS (SELECT doc_id, text,
             list_transform(string_split(text, chr(10)), l -> length(l)) AS lens
           FROM p),
         f AS (SELECT doc_id,
             CAST(list_max(lens) AS INT) AS max_line_len,
             CAST(list_sum(lens) AS DOUBLE) / len(lens) AS mean_line,
             CASE WHEN length(text) = 0 THEN 0.0
               ELSE CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE)
                 / length(text) END AS alnum,
             regexp_matches(text, '[A-Za-z0-9+/=]{64,}') AS has_long_b64,
             regexp_matches(lower(text),
               'auto-generated|autogenerated|generated by|do not edit') AS auto_generated
           FROM m)
         SELECT doc_id, max_line_len,
           round(mean_line, 6) AS mean_line_len,
           round(alnum, 6) AS alnum_frac,
           has_long_b64, auto_generated,
           (max_line_len < 1000 AND mean_line < 100 AND alnum > 0.25
             AND NOT has_long_b64 AND NOT auto_generated) AS keep
         FROM f"""),
    "multimodal_meta" -> Gate(multimodalMeta,
      """SELECT doc_id, 'text' AS kind,
         CAST(octet_length(text::BLOB) AS BIGINT) AS byte_len,
         lower(substr(hex(text::BLOB), 1, 16)) AS header_hex
         FROM documents"""),
    "multimodal_decode" -> Gate(multimodalDecodeQ,
      """WITH d AS (SELECT doc_id, 1 + doc_id % 2048 AS w,
             1 + (doc_id * 7) % 2048 AS h, doc_id % 4 AS m
           FROM documents)
         SELECT doc_id,
           CAST(CASE m WHEN 0 THEN 29 WHEN 1 THEN 39 WHEN 2 THEN 13
                ELSE 4 END AS BIGINT) AS byte_len,
           CASE m WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
                ELSE NULL END AS format,
           CAST(CASE WHEN m <= 2 THEN w ELSE NULL END AS INTEGER) AS width,
           CAST(CASE WHEN m <= 2 THEN h ELSE NULL END AS INTEGER) AS height
         FROM d"""),
    "multimodal_audio" -> Gate(multimodalAudioQ,
      """WITH d AS (SELECT doc_id,
           1 + doc_id % 2 AS ch,
           8000 * (1 + doc_id % 5) AS rate,
           100 + doc_id % 900 AS nf,
           doc_id % 4 AS m
         FROM documents)
         SELECT doc_id,
           CAST(CASE WHEN m = 3 THEN 5 ELSE 44 END AS BIGINT) AS byte_len,
           CASE WHEN m = 3 THEN NULL ELSE 'wav' END AS format,
           CAST(CASE WHEN m = 3 THEN NULL ELSE ch END AS INTEGER) AS channels,
           CAST(CASE WHEN m = 3 THEN NULL ELSE rate END AS INTEGER) AS sample_rate,
           CAST(CASE WHEN m = 3 THEN NULL ELSE 16 END AS INTEGER) AS bits,
           CAST(CASE WHEN m = 3 THEN NULL ELSE nf END AS BIGINT) AS n_frames,
           CAST(CASE WHEN m = 3 THEN NULL
                ELSE (nf * 1000) // rate END AS BIGINT) AS duration_ms
         FROM d"""),
    "multimodal_video" -> Gate(multimodalVideoQ,
      """WITH d AS (SELECT doc_id,
           1000 * (1 + doc_id % 4) AS ts,
           1000 + doc_id % 9000 AS dur,
           16 * (1 + doc_id % 120) AS w,
           16 * (1 + (doc_id * 7) % 120) AS h,
           doc_id % 4 AS m
         FROM documents)
         SELECT doc_id,
           CAST(CASE WHEN m = 3 THEN 5 ELSE 152 END AS BIGINT) AS byte_len,
           CASE WHEN m = 3 THEN NULL ELSE 'mp4' END AS format,
           CAST(CASE WHEN m = 3 THEN NULL ELSE ts END AS INTEGER) AS timescale,
           CAST(CASE WHEN m = 3 THEN NULL ELSE dur END AS BIGINT) AS duration_units,
           CAST(CASE WHEN m = 3 THEN NULL
                ELSE (dur * 1000) // ts END AS BIGINT) AS duration_ms,
           CAST(CASE WHEN m = 3 THEN NULL ELSE w END AS INTEGER) AS width,
           CAST(CASE WHEN m = 3 THEN NULL ELSE h END AS INTEGER) AS height
         FROM d"""),
    "multimodal_neardup" -> Gate(multimodalNeardupQ, dkPayloadNeardup),
    "curate_media" -> Gate(curateMediaQ,
      s"""WITH $dkPayloadBk,
         sz AS (SELECT doc_id, len(ph) // 2 AS bl FROM p
           WHERE len(ph) // 2 >= 60),
         bkg AS (SELECT bk.doc_id, bk.band, bk.bucket
           FROM bk JOIN sz USING (doc_id)),
         own AS (SELECT band, bucket, min(doc_id) AS owner
           FROM bkg GROUP BY 1, 2),
         losers AS (SELECT DISTINCT bkg.doc_id FROM bkg
           JOIN own USING (band, bucket) WHERE own.owner < bkg.doc_id)
         SELECT doc_id, CAST(bl AS BIGINT) AS byte_len,
           CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS VARCHAR) AS format,
           CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
           CAST(NULL AS INTEGER) AS channels,
           CAST(NULL AS INTEGER) AS sample_rate,
           CAST(NULL AS BIGINT) AS duration_ms
         FROM sz WHERE doc_id NOT IN (SELECT doc_id FROM losers)"""),
    "multimodal_neardup_verified" ->
      Gate(multimodalNeardupVerifiedQ, dkPayloadNeardupVerified),
    "multimodal_dhash" -> Gate(multimodalDhashQ,
      s"""WITH $dkDhash
         SELECT doc_id, dhash FROM dh"""),
    // the PNG/JPEG fixture payloads carry the SAME picture as the BMP
    // gate (codecGray == the dkDhash gray arithmetic), so the oracle is
    // container-blind: real inflate/Huffman/IDCT on the Spark side,
    // pure arithmetic on the oracle side
    "multimodal_dhash_png" -> Gate(multimodalDhashPngQ,
      s"""WITH $dkDhash
         SELECT doc_id, dhash FROM dh"""),
    // integer-DCT pHash: the cosine table round(cos(kπ/64)·2^15) is
    // implementation-independent (every entry ≥ 0.004 from a rounding
    // boundary), so the oracle rebuilds it with its own cos and every
    // downstream step is exact BIGINT arithmetic; the three containers
    // (9×8 BMP, 9×8 PNG, 72×64 block-constant JPEG) resample to the
    // same 32×32 plane, making the oracle container-blind
    "multimodal_phash" -> Gate(multimodalPhashQ,
      s"""WITH $dkPhash
         SELECT doc_id, phash FROM ph"""),
    "multimodal_phash_pairs" -> Gate(multimodalPhashPairsQ,
      s"""WITH $dkPhash,
         bk AS (SELECT doc_id, phash, b,
             (phash >> CAST(16*b AS INTEGER)) & 65535 AS bb
           FROM ph, (SELECT unnest(range(0, 4)) AS b)),
         ok AS (SELECT b, bb FROM bk
           GROUP BY 1, 2 HAVING count(*) <= 1000)
         SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(bit_count(xor(a.phash, c.phash)) AS INTEGER) AS hamming
         FROM bk a
         JOIN ok ON a.b = ok.b AND a.bb = ok.bb
         JOIN bk c
           ON a.b = c.b AND a.bb = c.bb AND a.doc_id < c.doc_id"""),
    "multimodal_dhash_jpeg" -> Gate(multimodalDhashJpegQ,
      s"""WITH $dkDhash
         SELECT doc_id, dhash FROM dh"""),
    // the MP4 fixtures carry the SAME picture as a keyframe sample
    // (decoys are non-sync), so the oracle stays container-blind:
    // real sample-table walk + JPEG decode on the Spark side, pure
    // arithmetic on the oracle side
    "multimodal_video_dhash" -> Gate(multimodalVideoDhashQ,
      s"""WITH $dkDhash
         SELECT doc_id, dhash FROM dh"""),
    "multimodal_video_neardup" -> Gate(multimodalVideoNeardupQ,
      s"""WITH $dkDhash,
         bk AS (SELECT doc_id, dhash, b,
             (dhash >> CAST(16*b AS INTEGER)) & 65535 AS bb
           FROM dh, (SELECT unnest(range(0, 4)) AS b)),
         ok AS (SELECT b, bb FROM bk
           GROUP BY 1, 2 HAVING count(*) <= 1000)
         SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(bit_count(xor(a.dhash, c.dhash)) AS INTEGER) AS hamming
         FROM bk a
         JOIN ok ON a.b = ok.b AND a.bb = ok.bb
         JOIN bk c
           ON a.b = c.b AND a.bb = c.bb AND a.doc_id < c.doc_id"""),
    "multimodal_dhash_gif" -> Gate(multimodalDhashGifQ,
      s"""WITH $dkDhash
         SELECT doc_id, dhash FROM dh"""),
    "multimodal_audiohash" -> Gate(multimodalAudiohashQ,
      s"""WITH $dkAudioEnvelope
         SELECT doc_id, ahash FROM ah"""),
    "multimodal_audiodup_pairs" -> Gate(multimodalAudioPairsQ,
      s"""WITH $dkAudioEnvelope,
         bk AS (SELECT doc_id, ahash, b,
             (ahash >> CAST(16*b AS INTEGER)) & 65535 AS bb
           FROM ah, (SELECT unnest(range(0, 4)) AS b)),
         ok AS (SELECT b, bb FROM bk
           GROUP BY 1, 2 HAVING count(*) <= 1000)
         SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(bit_count(xor(a.ahash, c.ahash)) AS INTEGER) AS hamming
         FROM bk a
         JOIN ok ON a.b = ok.b AND a.bb = ok.bb
         JOIN bk c
           ON a.b = c.b AND a.bb = c.bb AND a.doc_id < c.doc_id"""),
    "multimodal_audio_dedup" -> Gate(multimodalAudioDedupQ,
      s"""WITH $dkAudioEnvelope,
         bk AS (SELECT doc_id, b,
             (ahash >> CAST(16*b AS INTEGER)) & 65535 AS bb
           FROM ah, (SELECT unnest(range(0, 4)) AS b)),
         ok AS (SELECT b, bb FROM bk
           GROUP BY 1, 2 HAVING count(*) <= 1000)
         SELECT doc_id FROM ah
         WHERE doc_id NOT IN (
           SELECT DISTINCT c.doc_id FROM bk a
           JOIN ok ON a.b = ok.b AND a.bb = ok.bb
           JOIN bk c
             ON a.b = c.b AND a.bb = c.bb AND a.doc_id < c.doc_id)"""),
    // the MP3-family oracles model only the source PCM arithmetic
    // (recursive level walk + triangle window sums) — landing the MP3
    // members on the WAV/FLAC twins' bits is the Layer III decode's job
    "multimodal_audiohash_mp3" -> Gate(multimodalAudiohashMp3Q,
      s"""WITH RECURSIVE $dkMp3Envelope
         SELECT doc_id, ahash FROM ah"""),
    // the large-table family carries the SAME recording per key, so
    // its oracle is the mp3 envelope CTE verbatim — the multi-table
    // Huffman decode is what lands the lossy members on these bits
    "multimodal_audiohash_mp3bt" -> Gate(multimodalAudiohashMp3BtQ,
      s"""WITH RECURSIVE $dkMp3Envelope
         SELECT doc_id, ahash FROM ah"""),
    // intensity/mixed-block family: same source recording per key ->
    // the envelope CTE again verbatim
    "multimodal_audiohash_mp3adv" -> Gate(multimodalAudiohashMp3AdvQ,
      s"""WITH RECURSIVE $dkMp3Envelope
         SELECT doc_id, ahash FROM ah"""),
    "multimodal_audiodup_mp3adv" -> Gate(multimodalAudioPairsMp3AdvQ,
      s"""WITH RECURSIVE $dkMp3Envelope,
         bk AS (SELECT doc_id, ahash, b,
             (ahash >> CAST(16*b AS INTEGER)) & 65535 AS bb
           FROM ah, (SELECT unnest(range(0, 4)) AS b)),
         ok AS (SELECT b, bb FROM bk
           GROUP BY 1, 2 HAVING count(*) <= 1000)
         SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(bit_count(xor(a.ahash, c.ahash)) AS INTEGER) AS hamming
         FROM bk a
         JOIN ok ON a.b = ok.b AND a.bb = ok.bb
         JOIN bk c
           ON a.b = c.b AND a.bb = c.bb AND a.doc_id < c.doc_id"""),
    "multimodal_audiodup_mp3bt" -> Gate(multimodalAudioPairsMp3BtQ,
      s"""WITH RECURSIVE $dkMp3Envelope,
         bk AS (SELECT doc_id, ahash, b,
             (ahash >> CAST(16*b AS INTEGER)) & 65535 AS bb
           FROM ah, (SELECT unnest(range(0, 4)) AS b)),
         ok AS (SELECT b, bb FROM bk
           GROUP BY 1, 2 HAVING count(*) <= 1000)
         SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(bit_count(xor(a.ahash, c.ahash)) AS INTEGER) AS hamming
         FROM bk a
         JOIN ok ON a.b = ok.b AND a.bb = ok.bb
         JOIN bk c
           ON a.b = c.b AND a.bb = c.bb AND a.doc_id < c.doc_id"""),
    "multimodal_audiodup_mp3" -> Gate(multimodalAudioPairsMp3Q,
      s"""WITH RECURSIVE $dkMp3Envelope,
         bk AS (SELECT doc_id, ahash, b,
             (ahash >> CAST(16*b AS INTEGER)) & 65535 AS bb
           FROM ah, (SELECT unnest(range(0, 4)) AS b)),
         ok AS (SELECT b, bb FROM bk
           GROUP BY 1, 2 HAVING count(*) <= 1000)
         SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(bit_count(xor(a.ahash, c.ahash)) AS INTEGER) AS hamming
         FROM bk a
         JOIN ok ON a.b = ok.b AND a.bb = ok.bb
         JOIN bk c
           ON a.b = c.b AND a.bb = c.bb AND a.doc_id < c.doc_id"""),
    "multimodal_audio_dedup_mp3" -> Gate(multimodalAudioDedupMp3Q,
      s"""WITH RECURSIVE $dkMp3Envelope,
         bk AS (SELECT doc_id, b,
             (ahash >> CAST(16*b AS INTEGER)) & 65535 AS bb
           FROM ah, (SELECT unnest(range(0, 4)) AS b)),
         ok AS (SELECT b, bb FROM bk
           GROUP BY 1, 2 HAVING count(*) <= 1000)
         SELECT doc_id FROM ah
         WHERE doc_id NOT IN (
           SELECT DISTINCT c.doc_id FROM bk a
           JOIN ok ON a.b = ok.b AND a.bb = ok.bb
           JOIN bk c
             ON a.b = c.b AND a.bb = c.bb AND a.doc_id < c.doc_id)"""),
    "multimodal_lumastats" -> Gate(multimodalLumastatsQ,
      s"""WITH $dkDhash,
         st AS (SELECT g.doc_id, CAST(sum(v) AS BIGINT) AS sv,
             CAST(sum(v * v) AS BIGINT) AS svv,
             CAST(min(v) AS INTEGER) AS mn, CAST(max(v) AS INTEGER) AS mx
           FROM g GROUP BY 1)
         SELECT f.doc_id,
           CAST(CASE WHEN f.m IN (2, 4) THEN 72 ELSE 9 END AS INTEGER)
             AS width,
           CAST(CASE WHEN f.m IN (2, 4) THEN 64 ELSE 8 END AS INTEGER)
             AS height,
           CAST(CASE WHEN f.m IN (2, 4) THEN 4608 ELSE 72 END AS BIGINT)
             AS n_pixels,
           CAST(CASE WHEN f.m IN (2, 4) THEN 64 ELSE 1 END * sv AS BIGINT)
             AS lum_sum,
           CAST(CASE WHEN f.m IN (2, 4) THEN 64 ELSE 1 END * svv AS BIGINT)
             AS lum_sum_sq,
           mn AS lum_min, mx AS lum_max
         FROM f JOIN st ON f.doc_id = st.doc_id"""),
    "multimodal_thumbnail" -> Gate(multimodalThumbnailQ,
      s"""WITH $dkDhash
         SELECT doc_id, 'png' AS format, 9 AS width, 8 AS height, dhash
         FROM dh"""),
    "multimodal_neardup_codec" -> Gate(multimodalNeardupCodecQ,
      s"""WITH $dkDhash,
         bk AS (SELECT doc_id, dhash, b,
             (dhash >> CAST(16*b AS INTEGER)) & 65535 AS bb
           FROM dh, (SELECT unnest(range(0, 4)) AS b)),
         ok AS (SELECT b, bb FROM bk
           GROUP BY 1, 2 HAVING count(*) <= 1000)
         SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(bit_count(xor(a.dhash, c.dhash)) AS INTEGER) AS hamming
         FROM bk a
         JOIN ok ON a.b = ok.b AND a.bb = ok.bb
         JOIN bk c
           ON a.b = c.b AND a.bb = c.bb AND a.doc_id < c.doc_id"""),
    "multimodal_describe" -> Gate(multimodalDescribeQ, dkDescribe),
    "streaming_multimodal" -> Gate(streamingMultimodalQ, dkDescribe),
    "multimodal_frames" -> Gate(multimodalFramesQ,
      """WITH d AS (SELECT doc_id, 1000 * (1 + doc_id % 4) AS ts,
           1000 + doc_id % 9000 AS dur, doc_id % 4 AS m FROM documents),
         x AS (SELECT doc_id, (((dur * 1000) // ts) * 25) // 1000 AS nf
           FROM d WHERE m <> 3),
         u AS (SELECT doc_id, unnest(range(0, (nf + 9) // 10)) AS i
           FROM x WHERE nf > 0)
         SELECT doc_id, CAST(i AS INTEGER) AS sample_idx,
           CAST(i * 10 AS BIGINT) AS frame_idx FROM u"""),
    "multimodal_dhash_pairs" -> Gate(multimodalDhashPairsQ,
      s"""WITH $dkDhash,
         bk AS (SELECT doc_id, dhash, b,
             (dhash >> CAST(16*b AS INTEGER)) & 65535 AS bb
           FROM dh, (SELECT unnest(range(0, 4)) AS b)),
         ok AS (SELECT b, bb FROM bk
           GROUP BY 1, 2 HAVING count(*) <= 1000)
         SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(bit_count(xor(a.dhash, c.dhash)) AS INTEGER) AS hamming
         FROM bk a
         JOIN ok ON a.b = ok.b AND a.bb = ok.bb
         JOIN bk c
           ON a.b = c.b AND a.bb = c.bb AND a.doc_id < c.doc_id"""),
    "multimodal_mp3" -> Gate(multimodalMp3Q,
      """WITH d AS (SELECT doc_id,
           1 + doc_id % 14 AS br_idx, doc_id % 3 AS rate_idx,
           doc_id % 4 AS mode, doc_id % 100 AS tag_len,
           100 + doc_id % 900 AS audio_len, doc_id % 5 AS m
         FROM documents),
         x AS (SELECT *,
           [32,40,48,56,64,80,96,112,128,160,192,224,256,320][CAST(br_idx AS INTEGER)] AS br,
           [44100,48000,32000][CAST(rate_idx + 1 AS INTEGER)] AS rate
         FROM d),
         y AS (SELECT *, (144000 * br) // rate AS fs FROM x),
         z AS (SELECT *, (audio_len // fs) * 1152 AS frames FROM y)
         SELECT doc_id,
           CAST(CASE WHEN m = 4 THEN 5
                ELSE 10 + tag_len + audio_len END AS BIGINT) AS byte_len,
           CASE WHEN m = 4 THEN NULL ELSE 'mp3' END AS format,
           CAST(CASE WHEN m = 4 THEN NULL WHEN mode = 3 THEN 1
                ELSE 2 END AS INTEGER) AS channels,
           CAST(CASE WHEN m = 4 THEN NULL ELSE rate END AS INTEGER) AS sample_rate,
           CAST(CASE WHEN m = 4 THEN NULL ELSE 16 END AS INTEGER) AS bits,
           CAST(CASE WHEN m = 4 THEN NULL ELSE frames END AS BIGINT) AS n_frames,
           CAST(CASE WHEN m = 4 THEN NULL
                ELSE (frames * 1000) // rate END AS BIGINT) AS duration_ms
         FROM z"""),
    "multimodal_webm" -> Gate(multimodalWebmQ,
      """WITH d AS (SELECT doc_id,
           16 * (1 + doc_id % 100) AS w,
           16 * (1 + (doc_id * 3) % 100) AS h,
           doc_id % 4 AS di, doc_id % 3 AS dt, doc_id % 5 AS m
         FROM documents)
         SELECT doc_id,
           CAST(CASE WHEN m = 4 THEN 5 WHEN dt = 1 THEN 57
                ELSE 53 END AS BIGINT) AS byte_len,
           CASE WHEN m = 4 THEN NULL WHEN dt = 1 THEN 'mkv'
                ELSE 'webm' END AS format,
           CAST(CASE WHEN m = 4 THEN NULL ELSE 1000000 END AS BIGINT) AS timescale_ns,
           CAST(CASE WHEN m = 4 THEN NULL
                WHEN di = 0 THEN 1024 WHEN di = 1 THEN 2048
                WHEN di = 2 THEN 4096 ELSE 8192 END AS BIGINT) AS duration_units,
           CAST(CASE WHEN m = 4 THEN NULL
                WHEN di = 0 THEN 1024 WHEN di = 1 THEN 2048
                WHEN di = 2 THEN 4096 ELSE 8192 END AS BIGINT) AS duration_ms,
           CAST(CASE WHEN m = 4 THEN NULL ELSE w END AS INTEGER) AS width,
           CAST(CASE WHEN m = 4 THEN NULL ELSE h END AS INTEGER) AS height
         FROM d"""),
    "events_hourly_hll" -> Gate(eventsHourlyHllQ, dkHourlyHll),
    "streaming_hourly_hll" -> Gate(streamingHourlyHllQ, dkHourlyHll),
    "events_hourly" -> Gate(eventsHourly,
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_id, event_type,
         count(*) AS n_events, sum(value) AS value_sum
         FROM events GROUP BY 1, 2"""),
    "events_retention" -> Gate(eventsRetention,
      """WITH d AS (SELECT DISTINCT user_id,
             epoch_ns(ts) // 86400000000000 AS day_id FROM events),
         c AS (SELECT user_id, day_id,
             min(day_id) OVER (PARTITION BY user_id) AS cohort_day FROM d)
         SELECT cohort_day, day_id - cohort_day AS day_offset,
           count(*) AS n_users
         FROM c WHERE day_id - cohort_day <= 30 GROUP BY 1, 2"""),
    "events_funnel" -> Gate(eventsFunnel,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type FROM events),
         s1 AS (SELECT user_id, min(ts) AS t_signup FROM e
           WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t_click FROM e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t_signup GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t_click GROUP BY 1)
         SELECT s1.user_id, t_signup, t_click, t_purchase,
           CASE WHEN t_purchase IS NOT NULL THEN 3
                WHEN t_click IS NOT NULL THEN 2 ELSE 1 END AS steps_reached
         FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
         LEFT JOIN s3 ON s1.user_id = s3.user_id"""),
    "events_sessionize" -> Gate(eventsSessionize,
      """WITH l AS (SELECT user_id, epoch_us(ts) AS tsn, value,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
         f AS (SELECT user_id, tsn, value,
             CASE WHEN prev IS NULL OR tsn - prev > 1800000000 THEN 1 ELSE 0 END AS ns
           FROM l),
         s AS (SELECT user_id, tsn, value,
             CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY tsn
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
           FROM f)
         SELECT user_id, session_idx, min(tsn) AS session_start,
           max(tsn) AS session_end, count(*) AS n_events, sum(value) AS value_sum
         FROM s GROUP BY 1, 2"""),
    // stateless column exprs => the stream emits exactly the batch scores
    "streaming_quality" -> Gate(streamingQualityQ, oracleSqlQualityFlags),
    "streaming_curate" -> Gate(streamingCurateQ, dkStreamingCurate),
    "streaming_classifier" -> Gate(streamingClassifierQ, classifierScoreOracle),
    "streaming_dedup_exact" -> Gate(streamingDedupExactQ,
      "SELECT DISTINCT md5(text) AS text_hash FROM documents"),
    "streaming_dedup_neardup" -> Gate(streamingDedupNearQ, dkStreamingNearDup),
    "streaming_multimodal_neardup" -> Gate(streamingMultimodalNeardupQ,
      s"""WITH $dkDhash,
         bk AS (SELECT doc_id, b,
             (dhash >> CAST(16*b AS INTEGER)) & 65535 AS bb
           FROM dh, (SELECT unnest(range(0, 4)) AS b)),
         coll AS (SELECT DISTINCT a.doc_id FROM bk a JOIN bk c
           ON a.b = c.b AND a.bb = c.bb AND c.doc_id < a.doc_id)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM coll)"""),
    // streaming twins of the MP3-envelope / MP4-keyframe legs: same
    // constant-ts bucket-ownership survivor rule, hashes from the
    // respective arithmetic CTEs (envelope / picture formula)
    "streaming_audiodup_mp3" -> Gate(streamingAudiodupMp3Q,
      s"""WITH RECURSIVE $dkMp3Envelope,
         bk AS (SELECT doc_id, b,
             (ahash >> CAST(16*b AS INTEGER)) & 65535 AS bb
           FROM ah, (SELECT unnest(range(0, 4)) AS b)),
         coll AS (SELECT DISTINCT a.doc_id FROM bk a JOIN bk c
           ON a.b = c.b AND a.bb = c.bb AND c.doc_id < a.doc_id)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM coll)"""),
    "streaming_video_neardup" -> Gate(streamingVideoNeardupQ,
      s"""WITH $dkDhash,
         bk AS (SELECT doc_id, b,
             (dhash >> CAST(16*b AS INTEGER)) & 65535 AS bb
           FROM dh, (SELECT unnest(range(0, 4)) AS b)),
         coll AS (SELECT DISTINCT a.doc_id FROM bk a JOIN bk c
           ON a.b = c.b AND a.bb = c.bb AND c.doc_id < a.doc_id)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM coll)"""),
    // stateless filter => the stream emits exactly the batch survivor set
    "streaming_decontaminate" -> Gate(streamingDecontaminateQ, dkDecontaminate),
    "streaming_hourly" -> Gate(streamingHourlyQ,
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_id, event_type,
         count(*) AS n_events, sum(value) AS value_sum
         FROM events GROUP BY 1, 2"""),
    "streaming_retention" -> Gate(streamingRetentionQ,
      """WITH d AS (SELECT DISTINCT user_id,
             epoch_ns(ts) // 86400000000000 AS day_id FROM events),
         c AS (SELECT user_id, day_id,
             min(day_id) OVER (PARTITION BY user_id) AS cohort_day FROM d)
         SELECT cohort_day, day_id - cohort_day AS day_offset,
           count(*) AS n_users
         FROM c WHERE day_id - cohort_day <= 30 GROUP BY 1, 2"""),
    "streaming_funnel" -> Gate(streamingFunnelQ,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type FROM events),
         s1 AS (SELECT user_id, min(ts) AS t_signup FROM e
           WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t_click FROM e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t_signup GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t_click GROUP BY 1)
         SELECT s1.user_id, t_signup, t_click, t_purchase,
           CASE WHEN t_purchase IS NOT NULL THEN 3
                WHEN t_click IS NOT NULL THEN 2 ELSE 1 END AS steps_reached
         FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
         LEFT JOIN s3 ON s1.user_id = s3.user_id"""),
    "streaming_sessionize" -> Gate(streamingSessionizeQ, dkStreamSessionizeSql),
    "streaming_sessionize_rocksdb" ->
      Gate(streamingSessionizeRocksQ, dkStreamSessionizeSql),
    "streaming_sessionize_window" -> Gate(streamingSessionizeWindowQ,
      """WITH l AS (SELECT user_id, epoch_us(ts) AS tsn, value,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
         f AS (SELECT user_id, tsn, value,
             CASE WHEN prev IS NULL OR tsn - prev > 1800000000 THEN 1 ELSE 0 END AS ns
           FROM l),
         s AS (SELECT user_id, tsn, value,
             CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY tsn
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
           FROM f),
         g AS (SELECT user_id, session_idx, min(tsn) AS session_start,
             max(tsn) AS session_end, count(*) AS n_events,
             sum(value) AS value_sum
           FROM s GROUP BY 1, 2),
         mx AS (SELECT max(epoch_us(ts)) AS mt FROM events)
         SELECT user_id, session_start, session_end, n_events, value_sum
         FROM g, mx
         WHERE session_end + 1800000000 <= mt - 1800000000"""),
  )
}
