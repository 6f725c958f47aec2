package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Convenience entry points — reference `puffbird/shortcuts.py:8-132`
  * (`puffy_to_long(table, *cols, **kwargs)` = construct + `to_long`).
  */
object Shortcuts {

  /** One-call puffy → long: wraps `df` in a [[FrameEngine]] and explodes
    * the selected (default: all) data columns.
    */
  def puffyToLong(
      df: DataFrame,
      cols: Seq[String] = Nil,
      indexcols: Seq[String] = Nil,
      datacols: Seq[String] = Nil,
      maxDepth: Int = FrameEngine.DefaultMaxDepth,
      dropna: Boolean = true,
      sharedAxes: Map[String, Map[String, Int]] = Map.empty,
      expandCols: Seq[String] = Nil): DataFrame =
    FrameEngine(df, indexcols, datacols)
      .toLong(selCols = cols, maxDepth = maxDepth, dropna = dropna,
        sharedAxes = sharedAxes, expandCols = expandCols)
}

/** Local dense-tensor view of a pivot result — the analog of the
  * reference's xarray conversion in `multid_pivot`
  * (`puffbird/frame.py:1069-1075`). There is no distributed tensor type;
  * this collects, so it is only for small aggregated results (the same
  * constraint the reference has: its xarray output is in-memory too).
  */
object TensorHelper {

  /** (coordinates per dim, row-major dense values, NaN for missing). */
  final case class DenseTensor(
      coords: Seq[Seq[Any]],
      values: Array[Double]) {
    def shape: Seq[Int] = coords.map(_.size)
    def apply(ix: Seq[Int]): Double =
      values(ix.zip(shape).foldLeft(0) { case (acc, (i, n)) => acc * n + i })
  }

  /** Collect a long pivot result (`dims..., value`) into a dense tensor.
    * Coordinates are the sorted distinct values of each dim column: by
    * value for numeric, string, boolean, date and timestamp dims (as
    * xarray orders them), by their text otherwise; nulls last. A null
    * value (e.g. a mean over nulls only) is NaN, like a missing cell.
    */
  def toDense(df: DataFrame, dims: Seq[String], valueCol: String): DenseTensor = {
    val sel = df.select((dims :+ valueCol).map(org.apache.spark.sql.functions.col): _*)
    val rows = sel.collect()
    val coords: Seq[Seq[Any]] = dims.indices.map { i =>
      val byValue = sel.schema(i).dataType match {
        case _: NumericType | _: StringType | BooleanType | DateType |
             TimestampType | TimestampNTZType => true
        case _ => false
      }
      val (present, nulls) = rows.map(_.get(i)).distinct.toSeq.partition(_ != null)
      val sorted =
        if (byValue) present.sortWith(_.asInstanceOf[Comparable[Any]].compareTo(_) < 0)
        else present.sortBy(_.toString)
      sorted ++ nulls
    }
    val index: Seq[Map[Any, Int]] = coords.map(_.zipWithIndex.toMap)
    val shape = coords.map(_.size)
    val out = Array.fill(shape.product)(Double.NaN)
    rows.foreach { r =>
      val flat = dims.indices.foldLeft(0) { (acc, i) =>
        acc * shape(i) + index(i)(r.get(i))
      }
      out(flat) = r.get(dims.size) match {
        case null => Double.NaN
        case v: Number => v.doubleValue
      }
    }
    DenseTensor(coords, out)
  }
}
