package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.FrameEngine

/** Differential-golden side B: the same puffy fixtures as
  * tools/ref_golden.py (which runs the ACTUAL reference), through this
  * engine, dumped as CSV for tools/compare_golden.py.
  */
object GoldenDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_golden")
    val spark = Harness.session("WARN")
    import spark.implicits._

    def dump(name: String, df: DataFrame): Unit = {
      df.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$out/$name")
      println(s"$name: ${df.count()} rows, cols=${df.columns.mkString(",")}")
    }

    // c1 — F1 canonical docstring frame
    val f1 = Seq(
      (0L, Seq(1L, 2L, 3L), Map("c" -> Seq("asdf"), "d" -> Seq("ret"))),
      (1L, Seq(4L, 5L, 6L, 7L), Map("d" -> Seq("r"))),
      (2L, Seq(3L, 4L, 5L), Map("c" -> Seq("ff")))
    ).toDF("index_level0", "a", "b")
    dump("c1_f1", FrameEngine(f1, Seq("index_level0")).toLong())

    // c2 — 2-D array column
    val f2 = Seq(
      (0L, Seq(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))),
      (1L, Seq(Seq(7.0, 8.0, 9.0), Seq(10.0, 11.0, 12.0)))
    ).toDF("index_level0", "b")
    dump("c2_2d", FrameEngine(f2, Seq("index_level0")).toLong("b"))

    // c3 — shared axis across two array columns
    val f3 = Seq(
      (0L, Seq(1L, 2L, 3L), Seq(10L, 20L, 30L)),
      (1L, Seq(4L, 5L), Seq(40L, 50L))
    ).toDF("index_level0", "x", "y")
    dump("c3_shared", FrameEngine(f3, Seq("index_level0"))
      .toLong(sharedAxes = Map("axis" -> Map("x" -> 0, "y" -> 0))))

    // c4 — scalar column merged with an array column
    val f4 = Seq((0L, "u", Seq(1L, 2L)), (1L, "v", Seq(3L)))
      .toDF("index_level0", "s", "a")
    dump("c4_scalar_mix", FrameEngine(f4, Seq("index_level0")).toLong())

    // c5 — missing cell, dropna=true
    val f5 = Seq((0L, Some(Seq(1L, 2L))), (1L, None), (2L, Some(Seq(3L))))
      .toDF("index_level0", "a")
    dump("c5_dropna_true", FrameEngine(f5, Seq("index_level0")).toLong("a"))

    // c7 — dict of dicts
    val f7 = Seq(
      (0L, Map("k1" -> Map("x" -> 1L, "y" -> 2L), "k2" -> Map("x" -> 3L))),
      (1L, Map("k3" -> Map("z" -> 4L)))
    ).toDF("index_level0", "b")
    dump("c7_deep_dict", FrameEngine(f7, Seq("index_level0")).toLong("b"))

    // c6/c8 — nested-table cells (array<struct>), expand and stack paths
    val f6 = Seq(
      (0L, Seq((1L, 5L), (2L, 6L))),
      (1L, Seq((3L, 7L)))
    ).toDF("index_level0", "e")
      .select($"index_level0", $"e".cast("array<struct<c1:bigint,c2:bigint>>"))
    dump("c6_expand", FrameEngine(f6, Seq("index_level0"))
      .toLong(selCols = Seq("e"), expandCols = Seq("e")))
    dump("c8_nested_frame", FrameEngine(f6, Seq("index_level0")).toLong("e"))

    // c9 — 3-D array: three positional levels
    val f9 = Seq(
      (0L, Seq(Seq(Seq(0.0, 1.0), Seq(2.0, 3.0)),
               Seq(Seq(4.0, 5.0), Seq(6.0, 7.0))))
    ).toDF("index_level0", "t")
    dump("c9_3d", FrameEngine(f9, Seq("index_level0")).toLong("t"))

    // c11 — ragged dict-of-lists
    val f11 = Seq(
      (0L, Map("p" -> Seq(1L, 2L, 3L), "q" -> Seq(9L))),
      (1L, Map("q" -> Seq(7L, 8L)))
    ).toDF("index_level0", "b")
    dump("c11_ragged_dict", FrameEngine(f11, Seq("index_level0")).toLong("b"))

    // c12 — F2-composite: shared inner axis across two 2-D arrays plus a
    // nested-frame column via expandCols, in one toLong
    val f12 = Seq(
      (0L,
        Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)),
        Seq(Seq(10.0, 20.0), Seq(30.0, 40.0), Seq(50.0, 60.0)),
        Seq((1L, 5L), (2L, 6L))),
      (1L,
        Seq(Seq(5.0, 6.0), Seq(7.0, 8.0)),
        Seq(Seq(70.0, 80.0)),
        Seq((3L, 7L)))
    ).toDF("index_level0", "b", "d", "e")
      .select($"index_level0", $"b", $"d",
        $"e".cast("array<struct<c1:bigint,c2:bigint>>"))
    dump("c12_composite", FrameEngine(f12, Seq("index_level0"))
      .toLong(selCols = Seq("b", "d", "e"), expandCols = Seq("e"),
        sharedAxes = Map("aligned_axis" -> Map("b" -> 1, "d" -> 1))))

    // c14 — empty-list cell vanishes under dropna=true
    val f14 = Seq((0L, Seq(1L)), (1L, Seq.empty[Long]), (2L, Seq(2L, 3L)))
      .toDF("index_level0", "a")
    dump("c14_empty_cell", FrameEngine(f14, Seq("index_level0")).toLong("a"))

    // c15 — two-level row key: merge runs on both key columns
    val f15 = Seq(
      ("g1", 0L, Seq(1L, 2L), Seq("p")),
      ("g1", 1L, Seq(3L), Seq("q", "r")),
      ("g2", 0L, Seq(4L, 5L), Seq("s"))
    ).toDF("i1", "i2", "a", "b")
    dump("c15_multikey", FrameEngine(f15, Seq("i1", "i2")).toLong())

    // c16 — expand_cols under a two-level key → ordinal named level_2
    val f16 = Seq(
      ("g1", 0L, Seq(Tuple1(1L), Tuple1(2L))),
      ("g2", 1L, Seq(Tuple1(3L)))
    ).toDF("i1", "i2", "e")
      .select($"i1", $"i2", $"e".cast("array<struct<c1:bigint>>"))
    dump("c16_multikey_expand", FrameEngine(f16, Seq("i1", "i2"))
      .toLong(selCols = Seq("e"), expandCols = Seq("e")))

    // c17 — ragged nested-table cells (the handle_diff recovery,
    // frame.py:683-698): cells whose schemas disagree are ingested as
    // JSON record arrays; expandCol unifies the key set and stringifies
    // values — same shape as the reference's flatten/stringify retry
    // (its reset_index turns cell index levels into columns, and an
    // unnamed RangeIndex into a column literally named "index").
    val f17 = Seq(
      (0L, """[{"i":"a","j":"x","c1":1,"c2":5},{"i":"b","j":"y","c1":2,"c2":6}]"""),
      (1L, """[{"index":0,"c1":3,"c3":9}]""")
    ).toDF("index_level0", "e")
    dump("c17_ragged_expand",
      FrameEngine(f17, Seq("index_level0")).expandCol("e"))

    // c18 — keyless frame with the opt-in dense synthetic index: exact
    // RangeIndex parity (frame.py:188-194), index_level0 = 0..n-1
    val f18 = Seq(Seq(1L, 2L), Seq(3L, 4L, 5L)).toDF("a")
    dump("c18_dense_keyless",
      FrameEngine(f18, denseIndex = true).toLong("a"))

    // c19 — named-MultiIndex cells: the declared indexFields become key
    // columns, no positional ordinal (tutorial cell 21 shape)
    val f19 = Seq(
      (0L, Seq(("a", "x", 1L, 5L), ("b", "y", 2L, 6L))),
      (1L, Seq(("c", "z", 3L, 7L)))
    ).toDF("index_level0", "e")
      .select($"index_level0",
        $"e".cast("array<struct<i:string,j:string,c1:bigint,c2:bigint>>"))
    dump("c19_multiindex_expand",
      FrameEngine(f19, Seq("index_level0"))
        .expandCol("e", indexFields = Seq("i", "j")))

    // c20 — tutorial cell 23: expand cells whose index field collides
    // with a simultaneously exploded datacol → merge suffix `a_e`
    val f20 = Seq(
      (0L, Seq("u", "v"), Seq(("p", 1L), ("q", 2L))),
      (1L, Seq("w"), Seq(("r", 3L)))
    ).toDF("index_level0", "a", "e")
      .select($"index_level0", $"a",
        $"e".cast("array<struct<a:string,c1:bigint>>"))
    dump("c20_expand_collision",
      FrameEngine(f20, Seq("index_level0"))
        .toLong(selCols = Seq("a", "e"), expandCols = Seq("e"),
          expandIndexFields = Map("e" -> Seq("a"))))

    spark.stop()
  }
}
