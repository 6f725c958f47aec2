package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.core.{FrameEngine, Shortcuts}

/** puffy_reshape: the paper's own surface. One round reshapes a seeded
  * puffy table to long format six ways and back:
  * `toLong` on one ragged column, a three-column `toLong` whose columns
  * share one axis (the union + groupBy merge path), `expandCol` on a
  * nested table, `toPuffy` back from the long table of the first call,
  * `multidPivot` over the long table of a 2-D column, and
  * `Shortcuts.puffyToLong` of a map column with a ragged column (the
  * full-outer merge fold).
  */
final class PuffyReshape extends Workload {
  val name = "puffy_reshape"
  val warmupRounds = 2
  val minRounds = 3
  /** Puffy rows per table. */
  val Rows = 5000

  private var data: PuffyData = _
  private var puffy: DataFrame = _

  private val schema = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("a", ArrayType(DoubleType, containsNull = false)),
    StructField("b", ArrayType(DoubleType, containsNull = false)),
    StructField("c", ArrayType(IntegerType, containsNull = false)),
    StructField("m2", ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)),
    StructField("mp", MapType(StringType, DoubleType, valueContainsNull = false)),
    StructField("nt", ArrayType(StructType(Seq(
      StructField("name", StringType), StructField("score", DoubleType),
      StructField("n", IntegerType))), containsNull = false))))

  def generate(seed: Long): Unit = data = PuffyGen(seed, Rows)
  def inputDigest: String = data.digest

  def materialize(spark: SparkSession, inputs: File): Unit = {
    val rows = data.rows.map { r =>
      Row(r.key, r.a, r.b, r.c, r.m2, r.mp.toMap,
        r.nt.map(x => Row(x.name, x.score, x.n)))
    }
    val cores = spark.sparkContext.defaultParallelism
    puffy = spark.createDataFrame(spark.sparkContext.parallelize(rows, cores), schema)
      .persist(StorageLevel.MEMORY_ONLY)
    puffy.count()
  }

  private def engine = FrameEngine(puffy, indexcols = Seq("key"))

  private def roundTrip(): DataFrame = {
    val long = engine.toLong("a")
    val cells = long.select(col("key"), col("a_level0"),
      struct(col("a_level0").as("t"), col("a").as("v")).as("e"))
    FrameEngine(cells, indexcols = Seq("key", "a_level0"))
      .toPuffy(Seq("key"), keepMissingIdcs = false,
        aggfunc = (_, c) => sort_array(collect_list(c)))
      .select(col("key"), transform(col("e"), x => x.getField("v")).as("a"))
  }

  private def pivot(): DataFrame = {
    val long = engine.toLong("m2").select(col("key"),
      col("m2_level0").as("row"), col("m2_level1").as("col"), col("m2").as("v"))
    FrameEngine(long, indexcols = Seq("key", "row", "col"))
      .multidPivot(values = Seq("v"), dims = Seq("row", "col"))
  }

  /** (span, expected rows, output of the call). */
  private def calls: Seq[(String, Long, () => DataFrame)] = Seq(
    ("toLong", data.aRows, () => engine.toLong("a")),
    ("toLong_merge", data.aRows, () => engine.toLong(Seq("a", "b", "c"),
      sharedAxes = Map("t" -> Map("a" -> 0, "b" -> 0, "c" -> 0)))),
    ("expandCol", data.ntRows, () => engine.expandCol("nt")),
    ("toPuffy", data.n, () => roundTrip()),
    ("multidPivot", data.m2Cells, () => pivot()),
    ("puffyToLong", data.mpTimesA, () => Shortcuts.puffyToLong(
      puffy.select("key", "mp", "a"), cols = Seq("mp", "a"), indexcols = Seq("key"))))

  private var lastCounts: Seq[(String, Long, Long, String)] = Nil

  def round(spark: SparkSession, dir: File): Unit =
    lastCounts = calls.map { case (c, expected, plan) =>
      val (n, d) = Calls.sink(s"core.$c", "core")(plan())
      (c, n, expected, d)
    }

  def result(spark: SparkSession, dir: File): RoundOut = {
    val n = data.n
    RoundOut(
      digest = Digest.of(lastCounts.iterator.map(_._4)),
      rowsIn = 4 * n + data.aRows + data.m2Rows,
      rowsOut = lastCounts.map(_._2).sum,
      docs = n)
  }

  /** Long rows out per puffy row in, over the four fan-out calls. */
  private def fanout(counts: Map[String, Long]): Double =
    Seq("toLong", "toLong_merge", "expandCol", "puffyToLong").map(counts).sum /
      (4.0 * data.n)

  /** Checks the outputs of the last warm-up round. */
  def verify(spark: SparkSession, trace: Boolean): Seq[Check] = {
    val rows = lastCounts.map { case (c, n, expected, _) =>
      Check(s"rows_$c", n == expected, s"$n rows, generator predicts $expected")
    }
    // the round trip must give back exactly the ragged column it started from
    val back = lastCounts.find(_._1 == "toPuffy").get._4
    val expectedRoundTrip = Sink.noop(puffy.select(col("key"), col("a")))._2
    rows :+ Check("toPuffy_of_toLong_is_identity", back == expectedRoundTrip,
      s"round trip $back, input $expectedRoundTrip")
  }

  def layerMetrics(rounds: Seq[TracedRound]): Map[String, Double] = {
    import LayerMetrics._
    val totals = layerTotals(rounds, "core", "core")
    val perCall = CoreCalls.map(c => s"core.${c}_s" -> spanSeconds(rounds, s"core.$c"))
    val plan = perRound(rounds)(_.spans.filter(s =>
      s.layer == "core" && s.name.endsWith(".plan")).map(_.durS).sum)
    totals ++ perCall ++ Map("core.plan_s" -> plan,
      "core.fanout" -> fanout(lastCounts.map(c => c._1 -> c._2).toMap))
  }
}
