package graft.core

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `toLong`'s multi-column merge, run inside each input row.
  *
  * The reference melts every column of a row and merges the melted frames
  * with an accumulating `pd.merge(how="outer")` (`puffbird/frame.py:527-534`).
  * Every join key holds the row key, so each merged row comes from exactly
  * one input row. Here each column's melted rows are built inside the row
  * as an `array<struct>` (see [[Explode.cellRows]]), and one generator runs
  * the accumulating full-outer merge on those arrays in memory: the plan is
  * scan → project → `Generate`, with no exchange.
  *
  * Result = the chained `join(..., "full_outer")` fold keyed on (row key,
  * input row): the same column names and order (USING columns first), the
  * same types, and SQL's null semantics (a null row key or shared level
  * never matches; such rows pass through null-extended). Rows that share a
  * key are merged separately (DIVERGENCES.md #13).
  */
object RowMerge {

  /** One column's melted rows inside its row: `rows` is an `array<struct>`
    * whose fields are, in order, the melted frame's columns after the row
    * key (`fields`). `expandOf = Some(c)` marks an expanded frame: the fold
    * joins it on the row key only and renames colliding columns
    * `"{name}_{c}"` (the reference's merge suffixes).
    */
  final case class Cells(rows: Column, fields: Seq[StructField], expandOf: Option[String] = None)

  /** One fold step: positions of the shared levels (shared columns other
    * than the row key) in the accumulator and in the next frame, and for
    * each output column its accumulator and next-frame positions (-1 for
    * none; both set for a USING column, which coalesces).
    */
  final case class Step(
      accLevels: Seq[Int],
      nxtLevels: Seq[Int],
      fromAcc: Seq[Int],
      fromNxt: Seq[Int])

  /** Types a shared level may have: those whose SQL equality is boxed
    * `equals` (after folding -0.0 into 0.0).
    */
  private def comparable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         DateType | TimestampType | TimestampNTZType | FloatType | DoubleType => true
    case s => s == StringType
  }

  /** The merged frame, or `None` when the fold cannot be reproduced in the
    * row: a frame column named like a key, a shared level whose types
    * differ across frames or whose type is not [[comparable]], or duplicate
    * output names.
    */
  def apply(df: DataFrame, keys: Seq[String], frames: Seq[Cells]): Option[DataFrame] = {
    import org.apache.spark.sql.GraftColumnCompat._
    import org.apache.spark.sql.functions.col
    val keyFields = keys.map(k => df.schema(k))
    if (frames.exists(_.fields.exists(f => keys.contains(f.name)))) return None
    var acc: Seq[StructField] = keyFields ++ frames.head.fields
    val steps = frames.tail.map { f =>
      val accNames = acc.map(_.name)
      val nxt = keyFields ++ f.fields.map { x =>
        if (f.expandOf.isDefined && accNames.contains(x.name))
          x.copy(name = s"${x.name}_${f.expandOf.get}")
        else x
      }
      val nxtNames = nxt.map(_.name)
      val shared = if (f.expandOf.isDefined) keys else accNames.filter(nxtNames.contains)
      val out = shared ++ accNames.filterNot(shared.contains) ++
        nxtNames.filterNot(shared.contains)
      val levels = shared.filterNot(keys.contains)
      val levelsOk = levels.forall { l =>
        val t = acc(accNames.indexOf(l)).dataType
        t == nxt(nxtNames.indexOf(l)).dataType && comparable(t)
      }
      if (!levelsOk || out.distinct.size != out.size) return None
      acc = out.map(n => (acc ++ nxt).find(_.name == n).get)
      Step(levels.map(accNames.indexOf), levels.map(nxtNames.indexOf),
        out.map(accNames.indexOf), out.map(nxtNames.indexOf))
    }
    val gen = RowMergeExpr(
      keys.map(k => toExpression(col(k))) ++ frames.map(f => toExpression(f.rows)),
      keys.size, steps, StructType(acc.map(_.copy(nullable = true))))
    Some(df.select(toColumn(gen).as(acc.map(_.name))))
  }
}

/** The generator behind [[RowMerge]]: children are the row key columns
  * followed by one `array<struct>` of melted rows per frame. Interpreted
  * (`CodegenFallback`) like `JsonExplodeExpr`; non-outer, so a row whose
  * frames are all empty yields nothing, as in the fold.
  */
case class RowMergeExpr(
    children: Seq[Expression],
    numKeys: Int,
    steps: Seq[RowMerge.Step],
    elementSchema: StructType)
    extends Generator with CodegenFallback {

  @transient private lazy val frameTypes: IndexedSeq[Array[DataType]] =
    children.drop(numKeys).map(_.dataType match {
      case ArrayType(st: StructType, _) => st.fields.map(_.dataType)
    }).toIndexedSeq
  @transient private lazy val stepArrays = steps.map(s =>
    (s.accLevels.toArray, s.nxtLevels.toArray, s.fromAcc.toArray, s.fromNxt.toArray)).toIndexedSeq

  private type Rows = mutable.ArrayBuffer[Array[Any]]

  /** Frame `j`'s rows, each the row key followed by the melted columns. */
  private def frameRows(j: Int, key: Array[Any], input: InternalRow): Rows = {
    val out = new Rows
    val arr = children(numKeys + j).eval(input).asInstanceOf[ArrayData]
    if (arr == null) return out
    val types = frameTypes(j)
    var i = 0
    while (i < arr.numElements()) {
      val cell = arr.getStruct(i, types.length)
      val r = new Array[Any](numKeys + types.length)
      System.arraycopy(key, 0, r, 0, numKeys)
      var f = 0
      while (f < types.length) { r(numKeys + f) = cell.get(f, types(f)); f += 1 }
      out += r
      i += 1
    }
    out
  }

  /** The value a shared level joins on; null never matches. */
  private def normalize(v: Any): Any = v match {
    case d: Double if d == 0.0 => 0.0
    case f: Float if f == 0.0f => 0.0f
    case other => other
  }

  private def joinKey(r: Array[Any], at: Array[Int]): Any = at.length match {
    case 0 => ()
    case 1 => normalize(r(at(0)))
    case _ =>
      val vs = at.map(i => normalize(r(i))).toList
      if (vs.contains(null)) null else vs
  }

  /** One full-outer USING join of the accumulator with the next frame. */
  private def join(j: Int, acc: Rows, nxt: Rows, keyNull: Boolean): Rows = {
    val (accAt, nxtAt, fromAcc, fromNxt) = stepArrays(j)
    def emit(a: Array[Any], b: Array[Any]): Array[Any] = Array.tabulate(fromAcc.length) { p =>
      val fromA = if (a == null || fromAcc(p) < 0) null else a(fromAcc(p))
      if (fromA != null || b == null || fromNxt(p) < 0) fromA else b(fromNxt(p))
    }
    // a null row key matches nothing: the index stays empty
    val index = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Int]]
    if (!keyNull) nxt.indices.foreach { i =>
      val k = joinKey(nxt(i), nxtAt)
      if (k != null) index.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += i
    }
    val matched = new Array[Boolean](nxt.size)
    val out = new Rows
    acc.foreach { a =>
      val k = joinKey(a, accAt)
      (if (k == null) None else index.get(k)) match {
        case Some(bs) => bs.foreach { i => matched(i) = true; out += emit(a, nxt(i)) }
        case None => out += emit(a, null)
      }
    }
    nxt.indices.foreach(i => if (!matched(i)) out += emit(null, nxt(i)))
    out
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val key = Array.tabulate[Any](numKeys)(i => children(i).eval(input))
    val keyNull = key.contains(null)
    var acc = frameRows(0, key, input)
    steps.indices.foreach(j => acc = join(j, acc, frameRows(j + 1, key, input), keyNull))
    acc.iterator.map(r => new GenericInternalRow(r))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RowMergeExpr = copy(children = newChildren)
}
