package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // SPARK_GRAFT_EXPLAIN_FIXTURE=1: stage codec-gate payloads to a temp
    // fixture dir exactly as graft.Bench does, so the printed plan is the
    // BENCH-shape plan (parquet fixture scan) rather than the in-plan
    // fixture encode the correctness runs price
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN_FIXTURE"))
      sys.props("graft.fixture.dir") = java.nio.file.Files
        .createTempDirectory("graft_fixtures").toString
    // SPARK_GRAFT_EXPLAIN_EXEC=1: execute THIS DataFrame's own
    // QueryExecution (toRdd — a .write would plan a fresh one and the
    // printed plan would stay pre-execution), then print it — shows
    // AQE's FINAL shape (isFinalPlan=true: coalesced / skew-split /
    // broadcast-converted exchanges), which the static plan cannot show
    for (name <- args) {
      println(s"########## $name")
      val df = SparkEntry.queries(name)(spark, dir)
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN_EXEC")) {
        df.queryExecution.toRdd.foreachPartition(_ => ())
        println(df.queryExecution.executedPlan.toString)
      } else {
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
  }
}
