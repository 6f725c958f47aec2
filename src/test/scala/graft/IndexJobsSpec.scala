package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Commit, DedupIndex, RetrievalIndex}

/** The Spark jobs each lifecycle step of the two persisted indexes runs
  * on a tiny corpus: build, one warm batch, compact, probe. Their
  * driver-side protocol steps (meta, markers, sentinels, artifact
  * schemas, BM25 statistics) run none, so a job put back into one fails
  * here instead of hiding in bench noise. Also the crash window the
  * BM25 statistics in the meta record open.
  */
class IndexJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** Docs `[from, until)`: every fifth is a verbatim copy of doc 0. */
  private def docs(from: Int, until: Int): DataFrame =
    (from until until).map(i => (i.toLong,
        if (i % 5 == 0) "one shared text every fifth doc repeats"
        else s"doc $i says w${i % 7} w${i % 3} w${i % 11} and more"))
      .toDF("id", "text")

  private def fresh(name: String): String =
    Files.createTempDirectory(s"index_jobs_$name").toString

  /** Runs `steps` in order; the jobs each one started, by name. */
  private def jobsPerStep(steps: (String, () => Unit)*): Map[String, Int] = {
    val counted = steps.map { case (name, run) =>
      name -> SparkJobs.count(spark)(run())
    }
    info(counted.map { case (n, j) => s"$n=$j" }.mkString(" "))
    counted.toMap
  }

  test("DedupIndex: build, warm dedupBatch and ingestBatch, compact" +
      " run the pinned number of Spark jobs") {
    val dir = fresh("dedup")
    val (idx, out) = (s"$dir/index", s"$dir/out")
    def ingest(id: Int): Unit = DedupIndex.ingestBatch(spark, idx, out,
      docs(40 + 10 * id, 50 + 10 * id), id.toLong, "id", "text",
      numFiles = 4)
    val counted = jobsPerStep(
      "build" -> (() =>
        DedupIndex.build(docs(0, 40), "id", "text", idx, numFiles = 4)),
      "ingestBatch_0" -> (() => ingest(0)),
      "ingestBatch_1" -> (() => ingest(1)),
      "dedupBatch" -> (() => DedupIndex.dedupBatch(spark, idx,
        docs(60, 70), "id", "text").survivors.collect()),
      "compact" -> (() => DedupIndex.compact(spark, idx, numFiles = 4)))
    assert(counted === Map("build" -> 6, "ingestBatch_0" -> 4,
      "ingestBatch_1" -> 4, "dedupBatch" -> 1, "compact" -> 5))
  }

  test("RetrievalIndex: build, warm ingestBatch, compact and score run" +
      " the pinned number of Spark jobs") {
    val idx = fresh("bm25") + "/index"
    def ingest(id: Int): Unit = RetrievalIndex.ingestBatch(spark, idx,
      docs(40 + 10 * id, 50 + 10 * id), id.toLong, "id", "text",
      numFiles = 4)
    val counted = jobsPerStep(
      "build" -> (() =>
        RetrievalIndex.build(docs(0, 40), "id", "text", idx, numFiles = 4)),
      "ingestBatch_0" -> (() => ingest(0)),
      "ingestBatch_1" -> (() => ingest(1)),
      "score_deltas" -> (() => score(idx)),
      "compact" -> (() => RetrievalIndex.compact(spark, idx, numFiles = 4)),
      "score" -> (() => score(idx)))
    assert(counted === Map("build" -> 6, "ingestBatch_0" -> 6,
      "ingestBatch_1" -> 6, "score_deltas" -> 5, "compact" -> 3,
      "score" -> 5))
  }

  private def score(idx: String): Unit = RetrievalIndex.score(spark, idx,
    Seq(1L -> "shared text", 2L -> "w3 w5 more")).collect()

  test("RetrievalIndex: a stats write cut short leaves the old statistics," +
      " and the replay ends with the from-scratch ones") {
    val dir = fresh("bm25_crash")
    val (idx, scratch) = (s"$dir/index", s"$dir/scratch")
    def ingest(id: Int): Unit = RetrievalIndex.ingestBatch(spark, idx,
      docs(40 + 10 * id, 50 + 10 * id), id.toLong, "id", "text",
      numFiles = 4)
    def stats(path: String) = {
      val l = RetrievalIndex.load(spark, path)
      (l.nDocs, l.sumDl)
    }
    RetrievalIndex.build(docs(0, 50), "id", "text", scratch, numFiles = 4)
    val before = stats(scratch)
    RetrievalIndex.build(docs(0, 60), "id", "text", scratch, numFiles = 4)
    val fromScratch = stats(scratch)
    RetrievalIndex.build(docs(0, 40), "id", "text", idx, numFiles = 4)
    ingest(0)
    assert(stats(idx) === before)
    // batch 1 crashes after its postings landed, inside its stats
    // write: a partial temp file, no stats, no marker
    ingest(1)
    val tmp = new java.io.File(s"$idx/batch_stats/b1.tmp")
    Commit.tombstone(spark, s"$idx/batch_stats/b1", s"$idx/ingested/append_b1")
    Files.write(tmp.toPath, "n_docs=7\nsum_dl=".getBytes("UTF-8"))
    assert(stats(idx) === before, "the temp file is ignored")
    ingest(1)
    assert(stats(idx) === fromScratch)
    assert(fromScratch._1 === 60L)
    assert(!tmp.exists, "the replay's stats write replaced the temp file")
    RetrievalIndex.compact(spark, idx, numFiles = 4)
    assert(stats(idx) === fromScratch)
  }
}
