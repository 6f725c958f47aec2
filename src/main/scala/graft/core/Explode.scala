package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-driven explosion planner: the Spark-native replacement for the
  * reference's per-cell runtime type dispatch.
  *
  * The reference discovers each cell's type at runtime through a
  * first-match isinstance registry (`puffbird/callables.py:12-55`,
  * `DEFAULT_ITERABLE` at `puffbird/frame.py:35-47`) and decides when a
  * column is "done" by hashability (`puffbird/utils.py:9-20`). On Spark the
  * column's `DataType` tree determines both statically, so the whole
  * dispatch collapses into a pattern match evaluated while *building* the
  * lazy plan — no per-row work, fully codegen-friendly (`posexplode` /
  * `explode` / `inline` are `GenerateExec`, pipelined inside whole-stage
  * codegen).
  *
  * Step kinds (mirroring `puffbird/frame.py:35-47`):
  *  - `ArrayType(elem)`          → `posexplode`: position becomes the new
  *    level (reference: `iter(np.ndarray)` / `list` positions).
  *  - `MapType(k, v)`            → `explode`: the key becomes the new level
  *    (reference: `pd.Series(dict)` index).
  *  - `ArrayType(StructType)`    → "nested table": one reference step
  *    stacks the nested frame's index *and* columns at once
  *    (`puffbird/frame.py:39-43`), so one step here emits the row ordinal
  *    level plus the field-name level.
  *  - `StructType`               → melt: field name becomes the level.
  *  - primitive                  → stop (reference stop-cond
  *    `puffbird/utils.py:13-14`).
  */
object Explode {

  /** Explosion step for heterogeneous JSON-string cells (SURVEY §7.5):
    * pass per column via `toLong(iterable = Map(col -> Explode.jsonStep))`.
    * Runtime per-cell dispatch via the [[graft.functions.JsonExplodeExpr]]
    * generator — arrays by position, objects by key, scalars with a null
    * level. Values remain JSON text so the step composes under
    * `maxDepth`; a whole-column of scalars keeps emitting identity rows
    * (exactly the reference's repeated `{NaN: x}` wrapping).
    */
  val jsonStep: (DataFrame, String, Int => String, Int, Boolean) => (DataFrame, Int) =
    (frame, c, levelName, n, drop) => {
      import org.apache.spark.sql.GraftColumnCompat._
      import org.apache.spark.sql.catalyst.expressions.GeneratorOuter
      val gen = graft.functions.JsonExplodeExpr(toExpression(col(c)))
      // alias the generator outputs directly (MultiAlias) — renaming the
      // default "key"/"value" names would also hit same-named user columns
      val genCol = toColumn(if (drop) gen else GeneratorOuter(gen))
        .as(Seq(levelName(n), c))
      val others = frame.columns.filterNot(_ == c).map(col).toSeq
      val out = frame.select(others :+ genCol: _*)
      (out, n + 1)
    }

  sealed trait StepKind
  case object Stop extends StepKind
  case object ArrayStep extends StepKind
  case object MapStep extends StepKind
  case object NestedTableStep extends StepKind
  case object StructStep extends StepKind
  case object VariantStep extends StepKind

  def stepKind(dt: DataType): StepKind = dt match {
    case ArrayType(_: StructType, _) => NestedTableStep
    case ArrayType(_, _)             => ArrayStep
    case MapType(_, _, _)            => MapStep
    case _: StructType               => StructStep
    case VariantType                 => VariantStep
    case _                           => Stop
  }

  /** Least common type for melting heterogeneous struct fields into one
    * value column (the reference's `stack` does this implicitly by falling
    * back to object dtype; we must pick a concrete Spark type).
    */
  def commonType(types: Seq[DataType]): DataType = types.distinct match {
    case Seq(t)                                         => t
    case ts if ts.forall(_.isInstanceOf[NumericType])   => DoubleType
    case _                                              => StringType
  }

  /** One explosion step on column `c` of `frame`. `levelName(i)` supplies
    * the name of the i-th level (default `"{c}_level{i}"`, overridable by
    * `shared_axes`, see `puffbird/frame.py:1104-1110`). Returns the new
    * frame and the next level ordinal.
    *
    * `drop = true` reproduces the reference's per-step NaN dropping
    * (`puffbird/frame.py:583-597`): inner explode, so rows whose cell is
    * null/empty vanish. `drop = false` keeps them with null level+value
    * (`*_outer` variants).
    */
  def explodeOnce(
      frame: DataFrame,
      c: String,
      levelName: Int => String,
      n: Int,
      drop: Boolean): (DataFrame, Int) = {
    val others = frame.columns.filterNot(_ == c).map(col).toSeq
    frame.schema(c).dataType match {
      case ArrayType(_: StructType, _) =>
        // Nested table: row ordinal + field-name sub-levels in ONE step,
        // named "{base}_0"/"{base}_1" — matching the reference's
        // stack-all-levels-at-once with `{col_name}_{i}`-suffixed names
        // (`puffbird/frame.py:39-43`, `565-588`; golden c8).
        val base = levelName(n)
        // alias generator outputs directly (MultiAlias) — renaming the
        // default "pos"/"col" names would also hit same-named user columns
        val ex = (if (drop) posexplode(col(c)) else posexplode_outer(col(c)))
          .as(Seq(s"${base}_0", c))
        val step1 = frame.select(others :+ ex: _*)
        (meltStruct(step1, c, s"${base}_1", drop), n + 1)
      case ArrayType(_, _) =>
        val ex = (if (drop) posexplode(col(c)) else posexplode_outer(col(c)))
          .as(Seq(levelName(n), c))
        (frame.select(others :+ ex: _*), n + 1)
      case MapType(_, _, _) =>
        val ex = (if (drop) explode(col(c)) else explode_outer(col(c)))
          .as(Seq(levelName(n), c))
        (frame.select(others :+ ex: _*), n + 1)
      case _: StructType =>
        (meltStruct(frame, c, levelName(n), drop), n + 1)
      case VariantType =>
        // runtime per-cell dispatch (heterogeneous cells): arrays by
        // position, objects by key, scalars with a null level — values
        // stay variant, so maxDepth bounds the recursion
        import org.apache.spark.sql.GraftColumnCompat._
        import org.apache.spark.sql.catalyst.expressions.GeneratorOuter
        val gen = graft.functions.VariantExplodeExpr(toExpression(col(c)))
        val genCol = toColumn(if (drop) gen else GeneratorOuter(gen))
          .as(Seq(levelName(n), c))
        (frame.select(others :+ genCol: _*), n + 1)
      case _ => (frame, n) // scalar: caller stops
    }
  }

  /** The rows that the chain of built-in [[explodeOnce]] steps melts ONE
    * cell of `c` into, built inside its row as an `array<struct>` (levels,
    * then the value) for [[RowMerge]]. Each step follows `explodeOnce`:
    * the same level names and types, the same struct-melt casts, and the
    * same `drop` semantics (inner steps drop null or empty containers, the
    * melt drops null values, `*_outer` keeps one all-null row; with no step
    * at all, `drop` is `na.drop`). Steps stop at `maxDepth`, at a scalar,
    * or where `stop` holds. `None` when a variant step would run (its
    * per-cell dispatch stays a frame-level `Generate`) or a struct with no
    * fields would melt.
    */
  def cellRows(
      cell: Column,
      dt: DataType,
      c: String,
      levelName: Int => String,
      maxDepth: Int,
      drop: Boolean,
      stop: DataType => Boolean): Option[RowMerge.Cells] = {
    var levels = Vector.empty[StructField]
    var vt = dt
    def row(ls: Seq[Column], v: Column): Column =
      struct((ls.zipWithIndex.map { case (l, i) => l.as(s"_$i") } :+ v.as("v")): _*)
    def prev(r: Column): Seq[Column] = levels.indices.map(i => r.getField(s"_$i"))
    def nul(t: DataType): Column = lit(null).cast(t)
    var rows = array(row(Nil, cell))
    // one (pos)explode of every row's value: `inner` melts a value, `outer`
    // is the all-null row `*_outer` keeps for a null or empty one
    def explodeStep(level: StructField, value: DataType,
        inner: Column => Column, outer: Column => Column): Unit = {
      rows =
        if (drop) flatten(transform(filter(rows, _.getField("v").isNotNull), inner))
        else flatten(transform(rows, r => {
          val v = r.getField("v")
          when(v.isNull || size(v) === 0, array(outer(r))).otherwise(inner(r))
        }))
      levels :+= level; vt = value
    }
    def arrayStep(name: String, et: DataType): Unit =
      explodeStep(StructField(name, IntegerType), et,
        r => transform(r.getField("v"), (x, i) => row(prev(r) :+ i, x)),
        r => row(prev(r) :+ nul(IntegerType), nul(et)))
    // `meltStruct`: one row per field, cast to the common type
    def structStep(name: String, st: StructType): Unit = {
      val target = commonType(st.fields.map(_.dataType).toSeq)
      val melted = flatten(transform(rows, r => array(st.fieldNames.toSeq.map(f =>
        row(prev(r) :+ lit(f), r.getField("v").getField(f).cast(target))): _*)))
      rows = if (drop) filter(melted, _.getField("v").isNotNull) else melted
      levels :+= StructField(name, StringType); vt = target
    }
    var depth = 0
    while (depth < maxDepth && !stop(vt) && stepKind(vt) != Stop) {
      val name = levelName(depth)
      vt match {
        case VariantType => return None
        case ArrayType(st: StructType, _) if st.isEmpty => return None
        case st: StructType if st.isEmpty => return None
        case ArrayType(st: StructType, _) =>
          arrayStep(s"${name}_0", st); structStep(s"${name}_1", st)
        case ArrayType(et, _) => arrayStep(name, et)
        case MapType(kt, et, _) =>
          explodeStep(StructField(name, kt), et,
            r => transform(map_entries(r.getField("v")),
              e => row(prev(r) :+ e.getField("key"), e.getField("value"))),
            r => row(prev(r) :+ nul(kt), nul(et)))
        case st: StructType => structStep(name, st)
      }
      depth += 1
    }
    // no step ran: `explodeColumn`'s na.drop, which also drops NaN
    if (depth == 0 && drop) rows = filter(rows, r => vt match {
      case FloatType | DoubleType => r.getField("v").isNotNull && !isnan(r.getField("v"))
      case _ => r.getField("v").isNotNull
    })
    Some(RowMerge.Cells(rows, levels :+ StructField(c, vt)))
  }

  /** Melt struct column `c` into (levelName = field name, c = value),
    * casting fields to a common type. Uses `stack`, which stays inside
    * whole-stage codegen.
    */
  private def meltStruct(
      frame: DataFrame,
      c: String,
      levelName: String,
      drop: Boolean): DataFrame = {
    val st = frame.schema(c).dataType.asInstanceOf[StructType]
    val target = commonType(st.fields.map(_.dataType).toSeq)
    val pairs: Seq[Column] = st.fields.toSeq.flatMap { f =>
      Seq(lit(f.name), col(c).getField(f.name).cast(target))
    }
    val others = frame.columns.filterNot(_ == c).map(col).toSeq
    val stacked = frame.select(
      others :+ stack((lit(st.size) +: pairs): _*).as(Seq(levelName, c)): _*)
    if (drop) stacked.filter(col(c).isNotNull) else stacked
  }
}
