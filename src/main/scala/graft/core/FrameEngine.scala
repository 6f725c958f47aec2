package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-native re-implementation of the reference's one abstraction: a
  * "puffy table" — a table whose data cells hold nested values (arrays,
  * maps, nested tables) alongside flat key ("index") columns — plus the
  * operators to flatten it to long format and back.
  *
  * Reference: `puffbird/frame.py:50-145` (`FrameEngine`). Key design
  * translations (see SURVEY.md §1.4):
  *  - pandas `MultiIndex` → ordinary key columns (`indexCols`); uniqueness
  *    is an opt-in distributed check (`validateKeys()`) rather than an
  *    eager per-mutation scan (`puffbird/frame.py:204-207`) — an O(n)
  *    shuffle per mutation would be unacceptable at scale.
  *  - per-cell runtime type dispatch → static `DataType`-driven planning
  *    (see [[Explode]]).
  *  - in-place mutation returning `self` → immutable builder returning a
  *    new engine (same chaining ergonomics, Scala-idiomatic).
  *
  * All methods only *build* a lazy plan; Catalyst owns optimization
  * (column pruning, filter pushdown through `Generate`). `toLong` merges
  * inside each row and plans no exchange unless a frame-level step runs
  * (see [[toLong]]); the aggregating calls (`toPuffy`, `multidPivot*`,
  * `validateKeys`) shuffle once for their groupBy, re-planned by AQE.
  */
final class FrameEngine private (
    val df: DataFrame,
    val indexCols: Seq[String],
    val renames: Map[String, String]) {

  import FrameEngine._

  private def this(df: DataFrame, indexCols: Seq[String]) =
    this(df, indexCols, Map.empty)

  /** Data columns: everything not in the key. `puffbird/frame.py:215-242`. */
  def datacols: Seq[String] = df.columns.toSeq.filterNot(indexCols.contains)
  def indexcols: Seq[String] = indexCols
  def cols: Seq[String] = df.columns.toSeq

  /** Original → sanitized name maps (reference `*_rename` properties,
    * `puffbird/frame.py:257-332`): user-facing methods accept the
    * original names when `enforceIdentifierString` renamed them.
    */
  def datacolsRename: Map[String, String] =
    renames.filter { case (_, v) => datacols.contains(v) }
  def indexcolsRename: Map[String, String] =
    renames.filter { case (_, v) => indexCols.contains(v) }

  /** Merged data + index rename map — reference `cols_rename`
    * (`puffbird/frame.py:284-293`).
    */
  def colsRename: Map[String, String] = datacolsRename ++ indexcolsRename

  /** Reference `__repr__`/`__str__` delegate to the pandas table repr
    * (`puffbird/frame.py:251-255`). A distributed analog must not run a
    * job inside toString, so this renders the roles and schema; use
    * [[show]] for the eager row display the reference repr prints.
    */
  override def toString: String =
    s"FrameEngine(indexcols=[${indexCols.mkString(", ")}], " +
      s"datacols=[${datacols.mkString(", ")}])"

  /** Eager row display passthrough (the reference's repr table view). */
  def show(n: Int = 20, truncate: Boolean = true): Unit = df.show(n, truncate)

  /** Resolve a possibly-original column name to the current one. */
  private def resolve(c: String): String = {
    val r = renames.getOrElse(c, c)
    if (df.columns.contains(r)) r else c
  }

  /** Projection to a subset of datacols, keeping the key.
    * Reference `__getitem__`: `puffbird/frame.py:602-625`.
    */
  def select(selCols: String*): FrameEngine = {
    val sel = selCols.map(resolve)
    val missing = sel.filterNot(datacols.contains)
    if (missing.nonEmpty)
      throw new PuffbirdException(s"not datacols: ${missing.mkString(",")}")
    new FrameEngine(df.select((indexCols ++ sel).map(col): _*), indexCols,
      renames)
  }

  def apply(selCols: String*): FrameEngine = select(selCols: _*)

  /** Drop columns (data or key). Reference `puffbird/frame.py:831-899`;
    * the reference re-verifies key uniqueness when key columns are dropped
    * — here that stays an opt-in `validateKeys()` action.
    */
  def drop(dropCols: String*): FrameEngine = {
    val dc = dropCols.map(resolve)
    new FrameEngine(df.drop(dc: _*), indexCols.filterNot(dc.contains), renames)
  }

  /** Rename columns. Reference `puffbird/frame.py:901-948`. */
  def rename(mapping: Map[String, String]): FrameEngine = {
    val m = mapping.map { case (k, v) => resolve(k) -> v }
    checkNames(m.values.toSeq)
    new FrameEngine(
      df.withColumnsRenamed(m),
      indexCols.map(c => m.getOrElse(c, c)), renames)
  }

  /** Scalar function over one column (data or key).
    * Reference `col_apply`: `puffbird/frame.py:700-747`. Prefer passing
    * native `Column` functions (codegen'd); a Scala UDF also works but is
    * slower. `assignToIndex` appends the result to the key
    * (`puffbird/frame.py:805-829`).
    */
  def colApply(
      fn: Column => Column,
      c: String,
      newColName: Option[String] = None,
      assignToIndex: Boolean = false): FrameEngine = {
    val rc = resolve(c)
    if (!cols.contains(rc))
      throw new PuffbirdException(s"no such column: $c")
    val name = newColName.getOrElse(rc)
    if (name != rc && cols.contains(name))
      throw new PuffbirdException(s"column exists: $name")
    val out = df.withColumn(name, fn(col(rc)))
    val idx = if (assignToIndex && !indexCols.contains(name)) indexCols :+ name
              else indexCols
    new FrameEngine(out, idx, renames)
  }

  /** Row-wise function over multiple columns.
    * Reference `apply`: `puffbird/frame.py:749-803` (default output name
    * `"apply_result"` per `puffbird/frame.py:787-788`).
    */
  def applyRow(
      fn: Seq[Column] => Column,
      argCols: Seq[String],
      newColName: String = "apply_result",
      assignToIndex: Boolean = false): FrameEngine = {
    val args = argCols.map(resolve)
    val missing = args.filterNot(cols.contains)
    if (missing.nonEmpty)
      throw new PuffbirdException(s"no such columns: ${missing.mkString(",")}")
    val out = df.withColumn(newColName, fn(args.map(col)))
    val idx = if (assignToIndex && !indexCols.contains(newColName))
                indexCols :+ newColName
              else indexCols
    new FrameEngine(out, idx, renames)
  }

  // ---------------------------------------------------------------------
  // Core operator: toLong — recursive explosion + outer-merge chain.
  // Reference `to_long`: `puffbird/frame.py:334-542`.
  // ---------------------------------------------------------------------

  /** Flatten selected (default: all) data columns to long format.
    *
    * Per column: explode one schema level at a time (see [[Explode]]) up
    * to `maxDepth` (reference default 3, `puffbird/frame.py:30`), each
    * level becoming a column `"{c}_level{i}"` — or a shared-axis name when
    * `(c -> i)` appears in `sharedAxes` (reference `**shared_axes`,
    * `puffbird/frame.py:1104-1110`). Then merge the per-column long rows
    * on the shared columns (original key + any shared-axis levels),
    * exactly the reference's accumulating `pd.merge(..., how="outer")`
    * (`puffbird/frame.py:527-534`), as a chain of full-outer equi-joins
    * would.
    *
    * `dropna = true` reproduces the implemented (not documented, see
    * SURVEY §2.13.4) semantics: null cells dropped per column *before*
    * explosion (`puffbird/frame.py:505-506`) and per explosion step; nulls
    * reintroduced by the outer merge remain.
    *
    * Columns listed in `expandCols` use [[expandCol]] (struct fields stay
    * separate columns, prefixed `"{c}_"`) instead of being melted —
    * reference `puffbird/frame.py:489-503`.
    *
    * Shuffle budget: none. One column is a chain of `Generate`s
    * (`posexplode`/`explode`/`stack`, pipelined in whole-stage codegen).
    * Several columns are merged inside each input row ([[RowMerge]]): each
    * column's melted rows are built in the row and one generator runs the
    * outer merge in memory, so the plan is scan → project → `Generate`.
    * This holds because every merge key contains the row key: each merged
    * row comes from one input row. Rows that share a key are merged
    * separately, where the reference refuses them (DIVERGENCES.md #13).
    *
    * The other columns fold on with full-outer joins on the key, one
    * exchange per side each; the fold keeps its order, since outer merges
    * on differing key sets are not associative. They are:
    *  - the first column whose rows come from a frame-level step (a user
    *    `iterable` step, a JSON-string expand or a variant step) and every
    *    column after it;
    *  - every column, when fewer than two leading columns can merge in
    *    the row;
    *  - every column, when [[RowMerge]] returns `None` (e.g. a shared
    *    level whose type differs across columns, or that has no in-memory
    *    equality).
    * A join crosses the rows that share a key, so with duplicate keys the
    * folded columns are crossed and the result depends on column order.
    */
  def toLong(
      selCols: Seq[String] = Nil,
      maxDepth: Int = DefaultMaxDepth,
      maxDepthPer: Map[String, Int] = Map.empty,
      dropna: Boolean = true,
      dropnaPer: Map[String, Boolean] = Map.empty,
      sharedAxes: Map[String, Map[String, Int]] = Map.empty,
      expandCols: Seq[String] = Nil,
      iterable: Map[String, ExplodeStep] = Map.empty,
      cond: Map[String, DataType => Boolean] = Map.empty,
      expandIndexFields: Map[String, Seq[String]] = Map.empty): DataFrame = {
    checkSharedAxes(sharedAxes)
    val targets =
      (if (selCols.nonEmpty) selCols else datacols).map(resolve)
    val missing = targets.filterNot(datacols.contains)
    if (missing.nonEmpty)
      throw new PuffbirdException(s"not datacols: ${missing.mkString(",")}")

    def levelName(c: String)(i: Int): String =
      sharedAxes.collectFirst {
        case (axis, m) if m.get(c).contains(i) => axis
      }.getOrElse(s"${c}_level$i")
    def stepOf(c: String) = iterable.get(c).orElse(iterable.get(DefaultKey))
    def condOf(c: String) = cond.get(c).orElse(cond.get(DefaultKey))
    def depthOf(c: String) = maxDepthPer.getOrElse(c, maxDepth)
    def dropOf(c: String) = dropnaPer.getOrElse(c, dropna)
    // one target's melted frame, for the fold
    def frameOf(c: String): (String, DataFrame, Boolean) =
      if (expandCols.contains(c)) {
        val frame = df.schema(c).dataType match {
          case StringType => expandColJsonFrame(c, dropOf(c), prefix = true)
          case _ => expandColFrame(c, dropOf(c), prefix = true,
            expandIndexFields.getOrElse(c, Nil))
        }
        (c, frame, true)
      } else (c, explodeColumn(c, depthOf(c), dropOf(c), levelName(c),
        stepOf(c), condOf(c)), false)
    // one target's melted rows inside its row, for the per-row merge; None
    // where a frame-level step (user `iterable`, JSON expand, variant) runs
    def cellsOf(c: String): Option[RowMerge.Cells] =
      if (expandCols.contains(c)) df.schema(c).dataType match {
        case StringType => None
        case _ => Some(expandColCells(c, dropOf(c), expandIndexFields.getOrElse(c, Nil)))
      }
      else if (stepOf(c).isDefined) None
      else Explode.cellRows(col(c), df.schema(c).dataType, c, levelName(c),
        depthOf(c), dropOf(c), t => condOf(c).exists(_(t)))

    // Accumulating outer merge (`puffbird/frame.py:527-534`). The leading
    // targets whose rows come from built-in steps merge inside each row
    // ([[RowMerge]]: no exchange); the rest fold on with full-outer joins.
    // Melted frames join on the full column intersection (= key + level
    // names — a melted frame's only other column is its value, whose name
    // is collision-checked). Expanded frames join on the ROW KEY only, with
    // any other colliding column renamed `"{name}_{c}"` — the reference's
    // merge `suffixes=("", f"_{datacol}")` (tutorial cell 23: a cell
    // index field named like an exploded datacol becomes `a_e`).
    val inRow =
      if (targets.size < 2) Nil
      else targets.iterator.map(cellsOf).takeWhile(_.isDefined).flatten.toSeq
    val merged = if (inRow.size < 2) None else RowMerge(df, indexCols, inRow)
    val (start, rest) = merged match {
      case Some(m) => (m, targets.drop(inRow.size).map(frameOf))
      case None =>
        val longs = targets.map(frameOf)
        (longs.head._2, longs.tail)
    }
    rest.foldLeft(start) { case (acc, (c, nxt0, isExpand)) =>
      if (isExpand) {
        val shared = indexCols.filter(k =>
          acc.columns.contains(k) && nxt0.columns.contains(k))
        val collisions = nxt0.columns.toSeq
          .filterNot(shared.contains).filter(acc.columns.contains)
        val nxt = nxt0.withColumnsRenamed(
          collisions.map(n => n -> s"${n}_$c").toMap)
        acc.join(nxt, shared, "full_outer")
      } else {
        val shared = acc.columns.toSeq.intersect(nxt0.columns.toSeq)
        acc.join(nxt0, shared, "full_outer")
      }
    }
  }

  /** Single-column toLong convenience. */
  def toLong(c: String): DataFrame = toLong(Seq(c))

  private def explodeColumn(
      c: String,
      maxDepth: Int,
      drop: Boolean,
      levelName: Int => String,
      customStep: Option[ExplodeStep] = None,
      stopCond: Option[DataType => Boolean] = None): DataFrame = {
    var frame = df.select((indexCols :+ c).map(col): _*)
    // dropna before explosion (`puffbird/frame.py:505-506`) — but only
    // when no built-in explosion step will run: the inner
    // posexplode/explode (and the melt's value filter) already drop null
    // cells, and an extra na.drop would be constraint-pushed below the
    // projection, evaluating an expensive cell expression (e.g. a
    // `from_json` feeding this column) twice per row.
    val kind0 = Explode.stepKind(df.schema(c).dataType)
    val builtinExplodes = customStep.isEmpty && maxDepth > 0 &&
      kind0 != Explode.Stop && kind0 != Explode.VariantStep &&
      !stopCond.exists(p => p(df.schema(c).dataType))
    if (drop && !builtinExplodes) frame = frame.na.drop(Seq(c))
    var n = 0
    var depth = 0
    val step: ExplodeStep =
      customStep.getOrElse(Explode.explodeOnce(_, _, _, _, _))
    var done = false
    // a custom step owns its own stop semantics (the static DataType stop
    // would end e.g. JSON-string explosion before it starts); progress +
    // maxDepth bound it instead
    // user `cond` (reference `puffbird/frame.py:341,381-391`): stop when
    // the predicate says the column's current type is "done" — the
    // plan-time analog of the per-cell hashability check
    def condStops: Boolean = stopCond.exists(p => p(frame.schema(c).dataType))
    def canStep: Boolean = !condStops && (customStep.isDefined ||
      Explode.stepKind(frame.schema(c).dataType) != Explode.Stop)
    while (!done && depth < maxDepth && canStep) {
      val (f2, n2) = step(frame, c, levelName, n, drop)
      // a custom step that makes no progress ends the loop (the analog of
      // the reference's user `cond`, `puffbird/frame.py:341,381-391`)
      done = n2 == n
      frame = f2; n = n2; depth += 1
    }
    frame
  }

  // ---------------------------------------------------------------------
  // expandCol — unnest a column of nested tables (array<struct>).
  // Reference `expand_col`: `puffbird/frame.py:627-698`.
  // ---------------------------------------------------------------------

  /** Explode an `ArrayType(StructType)` column keeping struct fields as
    * separate columns (vs. [[toLong]]'s melt-to-one-value). Field names
    * colliding with key columns get an `"_{c}"` suffix (the reference's
    * merge suffix behavior, `puffbird/frame.py:533`, tutorial cells 21-26);
    * with `prefix = true` every field is prefixed `"{c}_"` (reference
    * `puffbird/frame.py:499-502` for non-MultiIndex cells).
    *
    * `handleDiff` is the analog of the reference's ragged-cell recovery
    * (`puffbird/frame.py:683-698`, helper `frame.py:1088-1097`): when the
    * aligned concat fails, the reference flattens/stringifies each cell
    * and retries. Spark columns are statically typed, so "ragged" cells
    * arrive as a *string* column of JSON record arrays (one JSON object
    * per nested-table row — the ingest form of cells whose schemas
    * disagree); with `handleDiff = true` (the reference's default) such a
    * column is expanded over the union of record keys with stringified
    * values — same output shape as the reference's recovery. Any other
    * type is a typed error pointing at the JSON path.
    *
    * `indexFields` declares which struct fields are the nested table's
    * *named row index* (the reference's named-MultiIndex cells, tutorial
    * cells 18-26): those fields join the output as plain key columns and
    * NO positional ordinal is emitted — exactly the reference's
    * keyed-concat of cells whose index carries names (golden c19/c20).
    * With `indexFields` empty the cell rows get the `level_{k}` ordinal
    * (an unnamed RangeIndex, golden c6/c16).
    */
  def expandCol(
      c: String,
      dropna: Boolean = true,
      prefix: Boolean = false,
      handleDiff: Boolean = true,
      indexFields: Seq[String] = Nil): DataFrame = {
    val rc = resolve(c)
    df.schema(rc).dataType match {
      case ArrayType(_: StructType, _) =>
        expandColFrame(rc, dropna, prefix, indexFields)
      case StringType if handleDiff => expandColJsonFrame(rc, dropna, prefix)
      case other =>
        throw new PuffbirdException(
          s"expandCol needs array<struct> for $c (got $other); ragged " +
            "cells can be ingested as a string column of JSON record " +
            "arrays and expanded with handleDiff = true")
    }
  }

  /** Ragged-cell expansion (the `handle_diff` recovery path): `c` holds
    * JSON arrays of records with per-cell key sets. The output schema is
    * the union of record keys across the corpus — discovered by one
    * small aggregation job (the distributed analog of pandas' column
    * alignment, which also scans every cell) — and every value is
    * stringified, exactly like the reference's flatten/stringify retry.
    * Scale: the key-union job shuffles only distinct key strings; the
    * expansion itself is one pipelined `Generate`. Each JSON cell is
    * parsed ONCE — the parsed `array<map>` projection is eagerly
    * `localCheckpoint`ed before the key scan, and the expansion reads
    * the same materialized parse instead of re-running `from_json` (r4
    * paid the parse twice, once per pass). localCheckpoint rather than
    * persist: cached-plan entries live in the CacheManager until an
    * explicit unpersist, and the returned lazy frame gave no hook to
    * release them (repeated expandCol calls leaked cache bookkeeping);
    * checkpoint blocks are freed by the ContextCleaner as soon as the
    * frame is unreachable. Tradeoff: an executor lost while the frame is
    * alive forfeits recompute (lineage is truncated) and fails the job —
    * acceptable for a parse scoped to one expansion; the two passes
    * themselves are inherent (the output schema must be known at plan
    * time).
    */
  private def expandColJsonFrame(c: String, drop: Boolean, prefix: Boolean): DataFrame = {
    val cellsType = ArrayType(MapType(StringType, StringType))
    val cellsAlias = RowAlias + "_cells"
    val projected = df
      .select(indexCols.map(col) :+ from_json(col(c), cellsType).as(cellsAlias): _*)
    val parsed = projected.localCheckpoint()
    val keys = parsed.select(explode(col(cellsAlias)).as(RowAlias))
      .select(explode(map_keys(col(RowAlias))).as("__k"))
      .distinct().orderBy("__k")
      .collect().map(_.getString(0)).toSeq
    if (keys.isEmpty)
      throw new PuffbirdException(
        s"expandCol($c): no JSON records found to expand")
    val ordName = s"level_${indexCols.size}"
    val ex = if (drop) posexplode(col(cellsAlias)) else posexplode_outer(col(cellsAlias))
    val tmp = parsed.select(indexCols.map(col) :+ ex: _*)
      .withColumnRenamed("pos", ordName)
      .withColumnRenamed("col", RowAlias)
    val fieldCols = keys.map { f =>
      val out =
        if (prefix) s"${c}_$f"
        else if (indexCols.contains(f)) s"${f}_$c"
        else f
      col(RowAlias).getItem(f).as(out)
    }
    tmp.select((indexCols :+ ordName).map(col) ++ fieldCols: _*)
  }

  /** The cell struct of `expandCol(c)` and its output layout after the row
    * key: the ordinal column (absent with `indexFields`), then each
    * (struct field, output name).
    */
  private def expandLayout(
      c: String,
      prefix: Boolean,
      indexFields: Seq[String]): (StructType, Option[String], Seq[(String, String)]) = {
    val st = df.schema(c).dataType match {
      case ArrayType(s: StructType, _) => s
      case other =>
        throw new PuffbirdException(
          s"expandCol needs array<struct>, got $other for $c")
    }
    val badIdx = indexFields.filterNot(st.fieldNames.contains)
    if (badIdx.nonEmpty)
      throw new PuffbirdException(
        s"expandCol($c): indexFields not in the cell struct: " +
          badIdx.mkString(","))
    // the cell's row ordinal becomes a key column named "level_{k}" for k
    // outer key levels — the reference's reset_index naming after the
    // keyed concat (`puffbird/frame.py:671-681`; golden c6). Cells with a
    // NAMED index (`indexFields`) contribute those fields instead of an
    // ordinal (golden c19).
    val ordinal = if (indexFields.isEmpty) Some(s"level_${indexCols.size}") else None
    def outName(f: String, isIndexField: Boolean): String =
      if (!isIndexField && prefix) s"${c}_$f"
      else if (indexCols.contains(f)) s"${f}_$c"
      else f
    val fields = indexFields.map(f => f -> outName(f, isIndexField = true)) ++
      st.fieldNames.toSeq.filterNot(indexFields.contains)
        .map(f => f -> outName(f, isIndexField = false))
    (st, ordinal, fields)
  }

  private def expandColFrame(
      c: String,
      drop: Boolean,
      prefix: Boolean,
      indexFields: Seq[String] = Nil): DataFrame = {
    val (_, ordinal, fields) = expandLayout(c, prefix, indexFields)
    val ex = (if (drop) posexplode(col(c)) else posexplode_outer(col(c)))
      .as(Seq(ordinal.getOrElse(RowAlias + "_pos"), RowAlias))
    df.select(indexCols.map(col) :+ ex: _*).select(
      indexCols.map(col) ++ ordinal.map(col) ++
        fields.map { case (f, o) => col(RowAlias).getField(f).as(o) }: _*)
  }

  /** [[expandColFrame]] (prefixed, as `toLong` expands) built inside the
    * row for [[RowMerge]].
    */
  private def expandColCells(c: String, drop: Boolean, indexFields: Seq[String]): RowMerge.Cells = {
    val (st, ordinal, fields) = expandLayout(c, prefix = true, indexFields)
    def row(i: Column, s: Column): Column = struct(
      (ordinal.map(_ => i).toSeq ++ fields.map(f => s.getField(f._1)))
        .zipWithIndex.map { case (v, j) => v.as(s"_$j") }: _*)
    val rows = transform(col(c), (s, i) => row(i, s))
    RowMerge.Cells(
      if (drop) rows
      else when(col(c).isNull || size(col(c)) === 0,
        array(row(lit(null).cast(IntegerType), lit(null).cast(st)))).otherwise(rows),
      ordinal.map(StructField(_, IntegerType)).toSeq ++
        fields.map { case (f, o) => StructField(o, st(f).dataType) },
      expandOf = Some(c))
  }

  // ---------------------------------------------------------------------
  // toPuffy — inverse: group-collect back to nested cells.
  // Reference `to_puffy`: `puffbird/frame.py:950-1016`.
  // ---------------------------------------------------------------------

  /** Group by a subset of the key and collect the remaining columns into
    * nested cells. `keepMissingIdcs = true` demotes the non-grouping key
    * columns to data and collects them too (`puffbird/frame.py:991-996`).
    * Default `aggfunc` is list-collection (`puffbird/frame.py:31`); pass
    * e.g. `(_, c) => avg(c)` or a per-column function for other
    * aggregates (`puffbird/frame.py:974-976`). Spark's `collect_list`
    * order is nondeterministic across shuffles — for deterministic output
    * use `(_, c) => sort_array(collect_list(c))` (documented divergence:
    * the reference preserves pandas row order, which has no distributed
    * analog).
    *
    * Scale: a single hash-partitioned `groupBy` — map-side partial
    * aggregation applies for algebraic aggfuncs; `collect_list` is an
    * `ObjectHashAggregate`.
    */
  def toPuffy(
      keys: Seq[String],
      keepMissingIdcs: Boolean = true,
      dropna: Boolean = false,
      aggfunc: (String, Column) => Column = (_, c) => collect_list(c)): DataFrame = {
    val ks = keys.map(resolve)
    val missing = ks.filterNot(indexCols.contains)
    if (missing.nonEmpty)
      throw new PuffbirdException(s"not indexcols: ${missing.mkString(",")}")
    val demoted = indexCols.filterNot(ks.contains)
    val valueCols = (if (keepMissingIdcs) demoted else Nil) ++ datacols
    if (valueCols.isEmpty)
      throw new PuffbirdException("toPuffy: nothing to aggregate")
    var t = if (keepMissingIdcs) df else df.drop(demoted: _*)
    if (dropna) t = t.na.drop()
    val aggs = valueCols.map(c => aggfunc(c, col(c)).as(c))
    t.groupBy(ks.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-column `aggfunc` dict form, with the `"_default"` key as the
    * fallback for unlisted columns — reference `aggfunc` dict handling
    * (`puffbird/frame.py:974-976` via `_mapping_variable_converter`,
    * `frame.py:1171-1186`). Keys naming columns that are not aggregated
    * values are rejected, as in the reference.
    */
  def toPuffy(
      keys: Seq[String],
      aggfuncs: Map[String, (String, Column) => Column],
      keepMissingIdcs: Boolean,
      dropna: Boolean): DataFrame = {
    val ks = keys.map(resolve)
    val demoted = indexCols.filterNot(ks.contains)
    val valueCols = (if (keepMissingIdcs) demoted else Nil) ++ datacols
    val perCol = (aggfuncs - DefaultKey).map { case (k, v) => resolve(k) -> v }
    val unknown = perCol.keySet -- valueCols
    if (unknown.nonEmpty)
      throw new PuffbirdException(
        s"aggfunc dictionary contains keys that are not aggregated " +
          s"columns (${valueCols.mkString(",")}): ${unknown.mkString(",")}")
    val default = aggfuncs.getOrElse(DefaultKey,
      (_: String, c: Column) => collect_list(c))
    toPuffy(keys, keepMissingIdcs, dropna,
      (n, c) => perCol.getOrElse(n, default)(n, c))
  }

  // ---------------------------------------------------------------------
  // multidPivot — group-by mean (long) and 2-D wide pivot.
  // Reference `multid_pivot`: `puffbird/frame.py:1018-1075` (the
  // implementation is groupby(dims).mean() only — SURVEY §2.13.6).
  // ---------------------------------------------------------------------

  /** Aggregate of `values` (default: all datacols) grouped by `dims` —
    * the long form of the reference's pivot (it converts to a dense
    * xarray tensor locally; a distributed engine returns the long frame
    * and leaves densification to [[multidPivotWide]] or the caller).
    *
    * `aggfunc` defaults to mean. The reference docstring promises an
    * `aggfunc` argument but the implementation hardcodes `.mean()`
    * (`puffbird/frame.py:1065-1067`, divergence #4) — like the other
    * documented-intent fixes (#1, #2), the documented behavior is
    * implemented here.
    */
  def multidPivot(
      values: Seq[String],
      dims: Seq[String],
      aggfunc: (String, Column) => Column = (_, c) => avg(c)): DataFrame = {
    val vs = if (values.nonEmpty) values else datacols
    val aggs = vs.map(v => aggfunc(v, col(v)).as(v))
    df.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** 2-D wide pivot: rows `rowDim`, columns `colDim`, cell = mean of
    * `value`. Pass `colValues` when known to skip the extra distinct-scan
    * job Spark otherwise runs to discover pivot columns (matters at scale).
    */
  def multidPivotWide(
      value: String,
      rowDim: String,
      colDim: String,
      colValues: Seq[Any] = Nil): DataFrame = {
    val g = df.groupBy(col(rowDim))
    val p = if (colValues.nonEmpty) g.pivot(colDim, colValues) else g.pivot(colDim)
    p.agg(avg(col(value)))
  }

  // ---------------------------------------------------------------------
  // Validation
  // ---------------------------------------------------------------------

  /** Distributed row-key uniqueness check (reference eagerly validates on
    * construction and key mutation: `puffbird/frame.py:204-207,816-822,
    * 888-890`). Opt-in because it is a full aggregation job. Without it,
    * `toLong` merges rows that share a key separately (DIVERGENCES.md #13).
    */
  def validateKeys(): Unit = {
    if (indexCols.isEmpty) throw new PuffbirdException("no index columns")
    val dups = df.groupBy(indexCols.map(col): _*).count()
      .filter(col("count") > 1).limit(1).count()
    if (dups > 0)
      throw new PuffbirdException(
        s"index columns ${indexCols.mkString(",")} do not form a unique key")
  }
}

object FrameEngine {

  /** Reference reserved words: `puffbird/frame.py:25-29`. */
  val ReservedWords: Set[String] = Set(
    "apply_result", "max_depth", "dropna", "iterable", "datacols",
    "indexcols", "handle_column_types", "enforce_identifier_string",
    "aggfunc")

  /** Reference default explosion depth: `puffbird/frame.py:30`. */
  val DefaultMaxDepth = 3

  /** Synthesized key column name for keyless input, mirroring the
    * reference's `index_level{i}` naming (`puffbird/frame.py:1296-1297`).
    */
  val SyntheticIndex = "index_level0"

  private[core] val RowAlias = "__pb_row"

  /** One explosion step: (frame, column, levelName, levelOrdinal, dropna)
    * → (new frame, next level ordinal). The plan-time analog of the
    * reference's per-column `iterable` override
    * (`puffbird/frame.py:337,354-366`); pass per-column via `toLong`'s
    * `iterable` (the `"_default"` key applies to all columns, mirroring
    * `_mapping_variable_converter`, `puffbird/frame.py:1171-1186`).
    */
  type ExplodeStep = (DataFrame, String, Int => String, Int, Boolean) => (DataFrame, Int)

  /** `"_default"` key for per-column option maps (`puffbird/frame.py:1174`). */
  val DefaultKey = "_default"

  /** Construct an engine over `df`.
    *
    * Column-role resolution mirrors `puffbird/frame.py:1207-1237`:
    * pass `indexcols` and/or `datacols`; unspecified columns fall into the
    * other role; with neither, every column is data and a synthetic
    * `index_level0` key is generated (`monotonically_increasing_id` — the
    * scalable analog of the reference's RangeIndex promotion at
    * `puffbird/frame.py:188-194`; values are unique but not dense).
    *
    * Name validation (reference `puffbird/frame.py:1328-1355`): reserved
    * words rejected; duplicates rejected; an index column may not look
    * like a future explosion output of a datacol
    * (`"{datacol}(_level)?[0-9]*"`, `puffbird/frame.py:33`).
    */
  /** Dense 0..n-1 synthetic key — exact parity with the reference's
    * RangeIndex promotion (`puffbird/frame.py:188-194`). Opt-in because
    * `zipWithIndex` runs an extra job (per-partition counts) and pins the
    * input partition order; the default `monotonically_increasing_id`
    * stays a single pipelined pass (unique but not dense — documented
    * divergence #7).
    */
  private def denseSyntheticIndex(df: DataFrame): DataFrame = {
    val schema = StructType(df.schema.fields :+
      StructField(SyntheticIndex, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  def apply(
      df: DataFrame,
      indexcols: Seq[String] = Nil,
      datacols: Seq[String] = Nil,
      enforceIdentifierString: Boolean = false,
      denseIndex: Boolean = false): FrameEngine = {
    val all = df.columns.toSeq
    checkNames(all)
    val unknown = (indexcols ++ datacols).filterNot(all.contains)
    if (unknown.nonEmpty)
      throw new PuffbirdException(s"unknown columns: ${unknown.mkString(",")}")

    val (frame, idx) =
      if (indexcols.nonEmpty && datacols.nonEmpty) {
        val keep = (indexcols ++ datacols).distinct
        (df.select(keep.map(col): _*), indexcols)
      } else if (indexcols.nonEmpty) {
        (df, indexcols)
      } else if (datacols.nonEmpty) {
        (df, all.filterNot(datacols.contains))
      } else if (denseIndex) {
        (denseSyntheticIndex(df), Seq(SyntheticIndex))
      } else {
        (df.withColumn(SyntheticIndex, monotonically_increasing_id()),
         Seq(SyntheticIndex))
      }

    val dataCols = frame.columns.toSeq.filterNot(idx.contains)
    // Reference `_check_table_column_types` (`puffbird/frame.py:1328-1355`):
    // an index name must not collide with a datacol's explosion outputs.
    // The reference pattern is `"{datacol}(_level)?[1-9]*$"`
    // (`puffbird/frame.py:33`) — note `[1-9]`: names like `a_level0` are
    // allowed, which keeps toLong outputs re-wrappable.
    for (d <- dataCols; i <- idx) {
      if (i.matches(java.util.regex.Pattern.quote(d) + "(_level)?[1-9]*"))
        throw new PuffbirdException(
          s"index column '$i' collides with datacol '$d' explosion names")
    }

    // enforce_identifier_string: sanitize names, recording original →
    // sanitized so methods keep accepting originals
    // (`puffbird/frame.py:1240-1325`, `295-332`).
    if (enforceIdentifierString) {
      val renames = (
        dataCols.map(c => c -> Identifiers.sanitizeDatacol(c)) ++
        idx.map(c => c -> Identifiers.sanitizeIndexcol(c))
      ).filter { case (o, n) => o != n }.toMap
      checkNames(frame.columns.toSeq.map(c => renames.getOrElse(c, c)))
      new FrameEngine(
        frame.withColumnsRenamed(renames),
        idx.map(c => renames.getOrElse(c, c)),
        renames)
    } else new FrameEngine(frame, idx)
  }

  private[core] def checkNames(names: Seq[String]): Unit = {
    val reserved = names.filter(ReservedWords.contains)
    if (reserved.nonEmpty)
      throw new PuffbirdException(
        s"reserved column names: ${reserved.mkString(",")}")
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    if (dups.nonEmpty)
      throw new PuffbirdException(
        s"duplicate column names: ${dups.mkString(",")}")
  }

  /** Shared-axes argument validation, reference
    * `_check_shared_axes_argument` (`puffbird/frame.py:1358-1384`).
    */
  private[core] def checkSharedAxes(sharedAxes: Map[String, Map[String, Int]]): Unit =
    sharedAxes.foreach { case (axis, m) =>
      if (m.isEmpty)
        throw new PuffbirdException(s"shared axis '$axis' maps no columns")
      if (m.values.exists(_ < 0))
        throw new PuffbirdException(s"shared axis '$axis' has negative level")
    }
}
