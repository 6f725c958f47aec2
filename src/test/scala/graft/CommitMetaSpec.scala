package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Commit

/** The meta record every persisted store commits its parameters in
  * ([[Commit.writeMeta]] / [[Commit.readMeta]]): exact round-trips, no
  * Spark job, an interrupted write's temp file, a missing meta.
  */
class CommitMetaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fresh(): String =
    Files.createTempDirectory("commit_meta").toString + "/meta"

  test("meta round-trips Int, Long, Boolean, Double and String values") {
    val dir = fresh()
    // strings come from callers (column names, fingerprints), so they
    // carry the properties format's own syntax and non-ASCII text
    val s = "id=col: #not a comment\n!second line \\ 深度 ü\t"
    Commit.writeMeta(spark, dir, Map("i" -> -7, "l" -> Long.MinValue,
      "b" -> true, "d" -> 0.1, "tiny" -> -1e-300, "s" -> s, "e" -> ""))
    val m = Commit.readMeta(spark, dir)
    assert(m.keySet === Set("i", "l", "b", "d", "tiny", "s", "e"))
    assert(m("i").toInt === -7)
    assert(m("l").toLong === Long.MinValue)
    assert(m("b").toBoolean)
    assert(m("d").toDouble === 0.1)
    assert(m("tiny").toDouble === -1e-300)
    assert(m("s") === s)
    assert(m("e") === "")
    val e = intercept[NoSuchElementException](m("absent"))
    assert(e.getMessage.contains(dir))
  }

  test("writeMeta plus readMeta runs no Spark job") {
    val dir = fresh()
    val jobs = SparkJobs.count(spark) {
      Commit.writeMeta(spark, dir, Map("version" -> 3L))
      assert(Commit.readMeta(spark, dir)("version") === "3")
    }
    assert(jobs === 0)
  }

  test("an interrupted write's temp file is ignored, then replaced") {
    val dir = fresh()
    Commit.writeMeta(spark, dir, Map("version" -> 1L))
    // a crash mid-write leaves a partial temp file beside the meta
    val tmp = new File(s"$dir.tmp")
    Files.write(tmp.toPath, "version=9\nk=".getBytes("UTF-8"))
    assert(Commit.readMeta(spark, dir) === Map("version" -> "1"))
    Commit.writeMeta(spark, dir, Map("version" -> 2L))
    assert(Commit.readMeta(spark, dir) === Map("version" -> "2"))
    assert(!tmp.exists, "the temp file is renamed into place")
  }

  test("a missing or unreadable meta fails loudly, naming the path") {
    val missing = fresh()
    val e = intercept[IllegalStateException](Commit.readMeta(spark, missing))
    assert(e.getMessage.contains(missing))
    // a directory where the file belongs (a parquet-era meta) is not
    // read as an empty meta
    val asDir = fresh()
    new File(asDir).mkdirs()
    val d = intercept[IllegalStateException](Commit.readMeta(spark, asDir))
    assert(d.getMessage.contains(asDir))
    // a file that holds no such parameter fails on the lookup
    val empty = fresh()
    Files.write(new File(empty).toPath, Array.emptyByteArray)
    val z = intercept[NoSuchElementException](
      Commit.readMeta(spark, empty)("version"))
    assert(z.getMessage.contains(empty))
  }
}
