package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{FrameEngine, PuffbirdException, Shortcuts}

/** Golden tests transcribing the reference's docstring examples
  * (`puffbird/frame.py:110-144, 431-463`, `puffbird/shortcuts.py:98-129`)
  * plus constructor/validation semantics (SURVEY §1.1, §5).
  */
class FrameEngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** F1 — canonical docstring puffy frame (`puffbird/frame.py:112-117`). */
  private lazy val f1 = Seq(
    (0L, Seq(1L, 2L, 3L), Map("c" -> Seq("asdf"), "d" -> Seq("ret"))),
    (1L, Seq(4L, 5L, 6L, 7L), Map("d" -> Seq("r"))),
    (2L, Seq(3L, 4L, 5L), Map("c" -> Seq("ff")))
  ).toDF("index_level0", "a", "b")

  test("F1 toLong: schema and row count match the docstring golden output") {
    val out = FrameEngine(f1, Seq("index_level0")).toLong()
    assert(out.columns.toSet ===
      Set("index_level0", "a_level0", "a", "b_level0", "b_level1", "b"))
    // a: 3+4+3 = 10 long rows; b: 2+1+1 = 4; outer merge on the key:
    // 3*2 + 4*1 + 3*1 = 13 rows (`puffbird/frame.py:449-463`).
    assert(out.count() === 13L)
  }

  test("F1 toLong: exact values for row key 0") {
    val out = FrameEngine(f1, Seq("index_level0")).toLong()
    val rows = out.filter($"index_level0" === 0)
      .select("a_level0", "a", "b_level0", "b_level1", "b")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        r.getInt(3), r.getString(4))).toSet
    val expected = for {
      (pos, av) <- Seq((0, 1L), (1, 2L), (2, 3L))
      (k, bv) <- Seq(("c", "asdf"), ("d", "ret"))
    } yield (pos, av, k, 0, bv)
    assert(rows === expected.toSet)
  }

  test("F1 single column toLong('a')") {
    val out = FrameEngine(f1, Seq("index_level0")).toLong("a")
    assert(out.columns.toSeq === Seq("index_level0", "a_level0", "a"))
    assert(out.count() === 10L)
  }

  test("toLong dropna=false keeps null cells as null-level rows") {
    val df = Seq(
      (0L, Some(Seq(1L, 2L))),
      (1L, None)
    ).toDF("index_level0", "a")
    val kept = FrameEngine(df, Seq("index_level0"))
      .toLong(selCols = Seq("a"), dropna = false)
    assert(kept.count() === 3L)
    val dropped = FrameEngine(df, Seq("index_level0")).toLong("a")
    assert(dropped.count() === 2L)
  }

  test("sharedAxes aligns levels instead of crossing them") {
    val df = Seq((0L, Seq(1, 2, 3), Seq(10, 20, 30))).toDF("k", "x", "y")
    val eng = FrameEngine(df, Seq("k"))
    assert(eng.toLong().count() === 9L) // cross product per key
    val aligned = eng.toLong(sharedAxes = Map("axis" -> Map("x" -> 0, "y" -> 0)))
    assert(aligned.count() === 3L)
    assert(aligned.columns.toSet === Set("k", "axis", "x", "y"))
  }

  test("nested-table step: array<struct> melts pos + field levels in one step") {
    val df = Seq((0L, Seq((1.0, 2.0), (3.0, 4.0)))).toDF("k", "c")
    val out = FrameEngine(df, Seq("k")).toLong("c")
    assert(out.columns.toSet === Set("k", "c_level0_0", "c_level0_1", "c"))
    assert(out.count() === 4L) // 2 rows x 2 fields
  }

  test("maxDepth bounds explosion") {
    val df = Seq((0L, Seq(Seq(1, 2), Seq(3)))).toDF("k", "a")
    val out = FrameEngine(df, Seq("k"))
      .toLong(selCols = Seq("a"), maxDepth = 1)
    // one step only: a stays array<int>
    assert(out.columns.toSet === Set("k", "a_level0", "a"))
    assert(out.schema("a").dataType.typeName === "array")
  }

  test("toPuffy inverts toLong (modulo list order)") {
    val eng = FrameEngine(f1.select("index_level0", "a"), Seq("index_level0"))
    val long = eng.toLong("a")
    val back = FrameEngine(long, Seq("index_level0", "a_level0"))
      .toPuffy(Seq("index_level0"), keepMissingIdcs = false,
        aggfunc = (_, c) => sort_array(collect_list(c)))
    val got = back.orderBy("index_level0").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    assert(got === Seq(
      (0L, Seq(1L, 2L, 3L)), (1L, Seq(4L, 5L, 6L, 7L)), (2L, Seq(3L, 4L, 5L))))
  }

  test("expandCol keeps struct fields as columns, suffixes key collisions") {
    val df = Seq((1L, Seq((1, "x"), (2, "y")))).toDF("k", "items")
      .select($"k", $"items".cast("array<struct<n:int,k:string>>"))
    val out = FrameEngine(df, Seq("k")).expandCol("items")
    assert(out.columns.toSeq === Seq("k", "level_1", "n", "k_items"))
    assert(out.count() === 2L)
  }

  test("constructor rejects reserved and colliding names") {
    val bad = Seq((1, 2)).toDF("dropna", "x")
    intercept[PuffbirdException] { FrameEngine(bad, Seq("x")) }
    // index name colliding with a datacol's explosion-output pattern
    // (reference regex `[1-9]*` — `a_level0` is legal, `a_level1` is not;
    // `puffbird/frame.py:33`)
    val bad2 = Seq((1, Seq(2))).toDF("a_level1", "a")
    intercept[PuffbirdException] { FrameEngine(bad2, Seq("a_level1")) }
    FrameEngine(Seq((1, Seq(2))).toDF("a_level0", "a"), Seq("a_level0"))
  }

  test("validateKeys detects duplicate keys") {
    val dup = Seq((1L, "a"), (1L, "b")).toDF("k", "v")
    intercept[PuffbirdException] {
      FrameEngine(dup, Seq("k")).validateKeys()
    }
    FrameEngine(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k")).validateKeys()
  }

  test("colApply / applyRow / drop / rename / select chain") {
    val df = Seq((1L, "ab", 2.0, 0.5)).toDF("k", "s", "p", "d")
    val eng = FrameEngine(df, Seq("k"))
      .colApply(upper, "s", Some("s_up"))
      .applyRow(cs => cs(0) * (lit(1.0) - cs(1)), Seq("p", "d"), "rev")
      .drop("d")
      .rename(Map("p" -> "price"))
    assert(eng.cols.toSet === Set("k", "s", "s_up", "price", "rev"))
    val r = eng.df.collect().head
    assert(r.getAs[String]("s_up") === "AB")
    assert(r.getAs[Double]("rev") === 1.0)
  }

  test("synthetic index when no key given") {
    val eng = FrameEngine(Seq(Seq(1, 2), Seq(3)).toDF("a"))
    assert(eng.indexCols === Seq("index_level0"))
    assert(eng.toLong("a").count() === 3L)
  }

  test("F2 composite: 2-D arrays with shared axis + nested table via expandCols") {
    // tutorial fixture shape (`tutorials/Create_Long_DataFrames.ipynb`
    // cell 4): b and d are 2-D arrays sharing axis 1; e is a nested table
    val df = Seq(
      (0L,
        Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)),            // b: 2x2
        Seq(Seq(10.0, 20.0), Seq(30.0, 40.0), Seq(50.0, 60.0)), // d: 3x2
        Seq(("x", 1L, 2L), ("y", 3L, 4L))             // e: nested table
      )).toDF("k", "b", "d", "e")
      .select($"k", $"b", $"d",
        $"e".cast("array<struct<a:string,c1:bigint,c2:bigint>>"))

    val eng = FrameEngine(df, Seq("k"))
    val out = eng.toLong(
      selCols = Seq("b", "d", "e"),
      sharedAxes = Map("aligned_axis" -> Map("b" -> 1, "d" -> 1)),
      expandCols = Seq("e"))

    // b long: 4 rows keyed (k, b_level0, aligned_axis);
    // d long: 6 rows keyed (k, d_level0, aligned_axis);
    // join on (k, aligned_axis): per axis value b has 2 rows, d has 3 -> 6;
    // axis has 2 values -> 12; e expand: 2 rows, joined on k -> 24.
    assert(out.count() === 24L)
    assert(out.columns.toSet === Set(
      "k", "b_level0", "aligned_axis", "b", "d_level0", "d",
      "level_1", "e_a", "e_c1", "e_c2"))
    // aligned axis: b and d values co-occur only at equal axis positions
    val r = out.filter($"b_level0" === 0 && $"d_level0" === 0 &&
      $"aligned_axis" === 1 && $"e_a" === "x").collect().head
    assert(r.getAs[Double]("b") === 2.0 && r.getAs[Double]("d") === 20.0)
  }

  test("expandCol handleDiff: ragged JSON cells expand over the key union" +
      " with stringified values (handle_diff recovery, frame.py:683-698)") {
    val f = Seq(
      (0L, """[{"i":"a","c1":1,"c2":5},{"i":"b","c1":2,"c2":6}]"""),
      (1L, """[{"index":0,"c1":3,"c3":9}]""")
    ).toDF("index_level0", "e")
    val out = FrameEngine(f, Seq("index_level0")).expandCol("e")
    assert(out.columns.toSet ===
      Set("index_level0", "level_1", "c1", "c2", "c3", "i", "index"))
    val rows = out.orderBy("index_level0", "level_1").collect()
    assert(rows.length === 3)
    // union columns are null where a cell lacks the key
    assert(rows(0).getAs[String]("c2") === "5" &&
      rows(0).getAs[String]("c3") === null)
    assert(rows(2).getAs[String]("c3") === "9" &&
      rows(2).getAs[String]("i") === null)
    // a non-string, non-array<struct> column is a typed error
    val bad = Seq((0L, 1.5)).toDF("index_level0", "x")
    val e = intercept[PuffbirdException] {
      FrameEngine(bad, Seq("index_level0")).expandCol("x")
    }
    assert(e.getMessage.contains("JSON"))
  }

  test("toPuffy aggfunc dict: per-column functions with _default fallback," +
      " unknown keys rejected (frame.py:974-976, 1171-1186)") {
    val f = Seq((0L, 1L, 10.0, 100.0), (0L, 2L, 20.0, 200.0),
      (1L, 1L, 30.0, 300.0)).toDF("g", "i", "x", "y")
    val eng = FrameEngine(f, Seq("g", "i"))
    val out = eng.toPuffy(Seq("g"),
      aggfuncs = Map("x" -> ((_, c) => sum(c)), "_default" -> ((_, c) => max(c))),
      keepMissingIdcs = false, dropna = false)
      .orderBy("g").collect()
    assert(out(0).getAs[Double]("x") === 30.0)  // sum
    assert(out(0).getAs[Double]("y") === 200.0) // _default max
    val e = intercept[PuffbirdException] {
      eng.toPuffy(Seq("g"), aggfuncs = Map("nope" -> ((_, c) => sum(c))),
        keepMissingIdcs = false, dropna = false)
    }
    assert(e.getMessage.contains("nope"))
  }

  test("denseIndex: keyless frame gets an exact 0..n-1 index_level0" +
      " (RangeIndex parity, frame.py:188-194)") {
    val f = Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L, 6L)).toDF("a")
    val eng = FrameEngine(f, denseIndex = true)
    assert(eng.indexcols === Seq("index_level0"))
    val keys = eng.df.select("index_level0")
      .collect().map(_.getLong(0)).sorted
    assert(keys.toSeq === Seq(0L, 1L, 2L))
    // and the explosion carries the dense key through
    val out = eng.toLong("a")
    assert(out.filter($"index_level0" === 2L).count() === 3L)
  }

  test("k>=3 per-row merge matches the chained full-outer fold" +
      " (incl. null keys and one-sided keys)") {
    // three columns, a key with uneven fan-out (2x1x3), a key missing
    // from one frame (y empty for k=1), and a NULL key row — the cases
    // where the in-row merge could diverge from join semantics
    val df = Seq(
      (Some(0L), Seq(1L, 2L), Seq(10L), Seq(100L, 200L, 300L)),
      (Some(1L), Seq(3L), Seq.empty[Long], Seq(400L)),
      (Option.empty[Long], Seq(9L), Seq(90L), Seq(900L))
    ).toDF("k", "x", "y", "z")
    val out = FrameEngine(df, Seq("k")).toLong()
    // expected = the chained fold the rewrite replaces, built explicitly
    def melt(c: String) = df.select(col("k"), posexplode(col(c)))
      .select(col("k"), col("pos").as(s"${c}_level0"), col("col").as(c))
    val expected = melt("x")
      .join(melt("y"), Seq("k"), "full_outer")
      .join(melt("z"), Seq("k"), "full_outer")
    assert(out.columns.toSeq === expected.columns.toSeq)
    val got = out.collect().map(_.toSeq).sortBy(_.toString())
    val want = expected.collect().map(_.toSeq).sortBy(_.toString())
    assert(got === want)
    // null-key rows never join: one pass-through row per frame
    assert(out.filter($"k".isNull).count() === 3L)
  }

  test("duplicate keys with a frame-level step: folded columns are crossed" +
      " by key, so the result depends on column order") {
    // two input rows share k = 0; b's rows come from a user `iterable`
    // step, so b (and any column after it) folds on with a key join
    val df = Seq(
      (0L, Seq(1L), Seq(10L), "[7]"),
      (0L, Seq(2L), Seq(20L), "[8]")
    ).toDF("k", "a", "c", "b")
    val eng = FrameEngine(df, Seq("k"))
    def run(order: String*): (Long, Set[(Long, Long)], Set[String]) = {
      val out = eng.toLong(selCols = order, maxDepthPer = Map("b" -> 1),
        iterable = Map("b" -> graft.core.Explode.jsonStep))
      val rows = out.select("a", "c", "b").collect()
      (rows.length.toLong, rows.map(r => (r.getLong(0), r.getLong(1))).toSet,
        rows.map(_.getString(2)).toSet)
    }
    val sameRow = Set((1L, 10L), (2L, 20L))
    val crossed = Set((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L))
    // b last: a and c merge inside each row; only b is crossed (2 x 2)
    assert(run("a", "c", "b") === ((4L, sameRow, Set("7", "8"))))
    // b second: one leading in-row column is too few, so every column
    // folds and a, c and b are all crossed (2 x 2 x 2); b first likewise
    assert(run("a", "b", "c") === ((8L, crossed, Set("7", "8"))))
    assert(run("b", "a", "c") === ((8L, crossed, Set("7", "8"))))
  }

  test("toLong merges plan no shuffle exchange (AQE off and on)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    object Plans extends AdaptiveSparkPlanHelper
    val df = Seq((0L, Seq(1L), Seq(2L), Seq(3L), Seq(4L), Map("x" -> 5L)))
      .toDF("k", "a", "b", "c", "d", "m")
    val eng = FrameEngine(df, Seq("k"))
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "k=2" -> (() => eng.toLong(Seq("a", "b"))),
      "k=3" -> (() => eng.toLong(Seq("a", "b", "c"))),
      "k=4" -> (() => eng.toLong(Seq("a", "b", "c", "d"))),
      "sharedAxes" -> (() => eng.toLong(Seq("a", "b", "c"),
        sharedAxes = Map("t" -> Map("a" -> 0, "b" -> 0, "c" -> 0)))),
      "puffyToLong" -> (() => Shortcuts.puffyToLong(df.select("k", "m", "a"),
        cols = Seq("m", "a"), indexcols = Seq("k"))))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      for (aqe <- Seq("false", "true"); (name, call) <- calls) {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        val out = call()
        out.collect()
        val plan = out.queryExecution.executedPlan
        val shuffles = Plans.collect(plan) { case s: ShuffleExchangeLike => s }
        assert(shuffles.isEmpty, s"$name (AQE $aqe) plans ${shuffles.size} shuffles:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
