package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each gate's query result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // local profiling aid (the driver never sets it): restrict the dump +
    // oracle json to a comma-separated subset of query names
    val selected = Harness.gates("SPARK_GRAFT_VERIFY_ONLY")
    val spark = Harness.session("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, gate) =>
      // repartition(1), NOT coalesce(1): coalesce folds the WHOLE
      // upstream pipeline into the single write task (a map-heavy
      // fixture gate measured 16× slower), while repartition keeps the
      // compute stages at their own parallelism and only the tiny
      // result crosses one exchange into the one-file write
      try gate.run(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected.map { case (k, g) => s"${q(k)}: ${q(g.oracleSql)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
