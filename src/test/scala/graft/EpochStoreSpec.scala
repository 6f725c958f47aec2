package graft

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Sampling, Sketches}
import graft.sources.{Commit, DeconIndex, VocabIndex}

/** The versioned-epoch lifecycle across all eight epoch stores: the
  * Spark jobs one warm append runs, the crash contract (torn meta flip,
  * cold-start self-heal, orphan cleanup) and a quiet cold start.
  */
class EpochStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** Batch `i`: eight rows with every column some store reads. */
  private def batch(i: Int): DataFrame =
    (0 until 8).map(j => (i * 8 + j).toLong).map(id =>
      (id, s"v${id % 5}", (id % 10) / 10.0, s"g${id % 2}",
        s"w${id % 7} w${id % 3} w${id % 11} shared probe tail words"))
      .toDF("id", "v", "x", "g", "text")

  private type Append = (String, Int) => Unit

  /** One append path per entry, run as `(dir, i)`: append batch `i` to
    * the store at `dir`; `i` doubles as the stream batch id of the
    * cursor stores.
    */
  private val appends: Seq[(String, Append)] = Seq(
    ("hll", (dir, i) =>
      Sketches.appendHll(batch(i), col("v"), dir, p = 10)),
    ("cms", (dir, i) =>
      Sketches.appendCms(batch(i), col("v"), dir, 2, 256)),
    ("cms_ingest", (dir, i) =>
      Sketches.ingestCmsBatch(batch(i), col("v"), dir, i.toLong, 2, 256)),
    ("quantile", (dir, i) =>
      Sketches.appendQuantile(batch(i), "id", "x", "g", dir, k = 4)),
    ("kll", (dir, i) =>
      Sketches.appendKll(batch(i), "x", "g", dir, k = 8)),
    ("kll_ingest", (dir, i) =>
      Sketches.ingestKllBatch(batch(i), "x", "g", dir, i.toLong, k = 8)),
    ("bins_ingest", (dir, i) =>
      Sketches.ingestBinsBatch(batch(i), "x", dir, i.toLong, nBins = 4)),
    ("sample", (dir, i) =>
      Sampling.appendSampleIndex(batch(i), "id", dir, 4)),
    ("decon", (dir, i) =>
      DeconIndex.appendProbe(batch(i), "text", dir, n = 3, mBits = 256,
        k = 2)),
    ("vocab_ingest", (dir, i) =>
      VocabIndex.ingestBatch(batch(i), "text", dir, i.toLong)))

  /** The eight stores, each by the one append path a stream drives. */
  private val stores = appends.filter { case (name, _) =>
    !Set("cms", "kll")(name) }

  private def fresh(name: String): String =
    java.nio.file.Files.createTempDirectory(s"epoch_$name").toString +
      "/store"

  private def wipe(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(wipe)
    f.delete()
  }

  private def version(path: String): Long =
    Commit.readMeta(spark, s"$path/meta")("version").toLong

  /** Messages (with their throwables' class chains) logged while `body`
    * runs.
    */
  private def logsOf(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender(
        "epoch-store-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val chain = Iterator.iterate(e.getThrown)(_.getCause)
          .takeWhile(_ != null).map(_.getClass.getName).mkString(" <- ")
        seen.add(s"${e.getMessage.getFormattedMessage} $chain")
      }
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(capture)
    try body
    finally { root.removeAppender(capture); capture.stop() }
    seen.asScala.toSeq
  }

  test("one warm append runs the pinned number of Spark jobs per store") {
    // meta reads and writes are driver-side file I/O, and the live
    // epoch opens with the schema its meta recorded: no job
    val expected = Map(
      "hll" -> 4, "cms" -> 4, "cms_ingest" -> 4, "quantile" -> 16,
      "kll" -> 8, "kll_ingest" -> 8, "bins_ingest" -> 5, "sample" -> 13,
      "decon" -> 12, "vocab_ingest" -> 4, "vocab_absorb" -> 4)
    val absorb: Append = (dir, i) => VocabIndex.absorb(batch(i), "text", dir)
    val counted = (appends :+ ("vocab_absorb" -> absorb)).map {
        case (name, run) =>
      val path = fresh(name)
      if (name == "vocab_absorb") VocabIndex.build(batch(0), "text", path)
      else run(path, 0)
      name -> SparkJobs.count(spark)(run(path, 1))
    }.toMap
    info(counted.toSeq.sorted.map { case (n, j) => s"$n=$j" }.mkString(" "))
    assert(counted === expected)
  }

  test("a cold-start append logs no FileNotFoundException") {
    stores.foreach { case (name, run) =>
      val logged = logsOf(run(fresh(name), 0))
        .filter(_.contains("FileNotFoundException"))
      assert(logged.isEmpty, s"$name: $logged")
    }
  }

  test("crash contract on every epoch store: a torn meta flip fails loud," +
      " a lone registers_v0 re-initializes, an orphan epoch is cleaned") {
    stores.foreach { case (name, run) =>
      // torn flip on an artifact WITH history: registers_v5, no meta
      val torn = fresh(name)
      new File(s"$torn/registers_v5").mkdirs()
      val e = intercept[IllegalArgumentException](run(torn, 0))
      assert(e.getMessage.contains("torn meta flip"), name)
      // cold-start crash remnant: the initial build died before its
      // meta landed — nothing was committed, so the replay re-builds
      val cold = fresh(name)
      run(cold, 0)
      wipe(new File(s"$cold/meta"))
      run(cold, 0)
      assert(version(cold) === 0L, name)
      // an uncommitted epoch left by a crash is inert, and the next
      // commit deletes it
      val orphan = new File(s"$cold/registers_v99")
      orphan.mkdirs()
      run(cold, 1)
      assert(version(cold) === 1L, name)
      assert(!orphan.exists, s"$name: stale epoch must be cleaned on commit")
    }
  }
}
