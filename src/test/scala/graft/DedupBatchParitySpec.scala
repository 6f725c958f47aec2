package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.DedupIndex

/** [[DedupIndex.dedupBatch]] runs its keep-first rules on the driver.
  * This spec holds them to the join formulation they replaced, kept
  * below as the reference, over seeded random batches: duplicate ids
  * with equal and with different texts, null ids and texts, texts
  * shorter than the shingle, exact and near duplicates of the index
  * and of each other, and string ids, whose order is not numeric.
  */
class DedupBatchParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The join formulation: exact stage as a min-id fold joined back and
    * anti-joined with the index hashes, near-dup stage as band-row
    * joins against the index buckets and within the batch.
    */
  private def reference(path: String, newDocs: DataFrame, idCol: String,
      textCol: String): DedupIndex.BatchDedup = {
    val idx = DedupIndex.load(spark, path)
    val batch = newDocs
      .withColumn("__h", Dedup.normalizedHash(col(textCol)))
      .localCheckpoint()
    val hits = idx.hashes
      .join(broadcast(batch.select(col("__h").as("text_hash")).distinct()),
        Seq("text_hash"), "left_semi")
      .select(col("text_hash").as("__h"))
    val minIds = batch.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__keep"))
    val exactSurv = batch.join(minIds, Seq("__h"))
      .filter(col(idCol) === col("__keep")).drop("__keep")
      .join(broadcast(hits), Seq("__h"), "left_anti")
      .localCheckpoint()
    val bb = Dedup.wordBandBucketRows(
        exactSurv.select(col(idCol), col(textCol)), idCol, textCol,
        idx.shingleN, idx.numHashes, idx.bands)
      .localCheckpoint()
    val corpusHits = idx.buckets.select(col("band"), col("bucket"))
      .join(broadcast(bb), Seq("band", "bucket"))
      .select(col(idCol)).distinct()
    val internalHits = bb.as("a").join(bb.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"b.$idCol").as(idCol)).distinct()
    val dropped = corpusHits.union(internalHits).distinct()
    DedupIndex.BatchDedup(
      survivors = exactSurv
        .join(broadcast(dropped), Seq(idCol), "left_anti")
        .select(newDocs.columns.toIndexedSeq.map(col): _*)
        .localCheckpoint(),
      newHashes = exactSurv
        .select(col("__h").as("text_hash"), col(idCol).as("keep_id")),
      newBuckets = bb
        .select(col(idCol).as("doc_id"), col("band"), col("bucket")))
  }

  private val vocab = Vector("river", "stone", "cloud", "amber", "signal",
    "harbor", "lantern", "meadow", "copper", "violet", "engine", "garden",
    "marble", "falcon", "winter", "canyon", "velvet", "orbit", "timber",
    "glacier", "ember", "quartz", "willow", "saddle", "prism")

  private def sentence(r: Random, n: Int): String =
    Seq.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")

  /** `text` with one token replaced or appended. */
  private def edit(r: Random, text: String): String = {
    val ws = text.trim.split("\\s+")
    if (r.nextBoolean()) (ws :+ vocab(r.nextInt(vocab.size))).mkString(" ")
    else ws.updated(r.nextInt(ws.length), "zephyr").mkString(" ")
  }

  /** Same normalized hash, other bytes: case and whitespace. */
  private def reformat(text: String): String =
    "  " + text.toUpperCase.replace(" ", "   ") + " "

  private def corpus(seed: Int): Seq[(Long, String)] = {
    val r = new Random(seed)
    (0 until 30).map(i => (i.toLong, sentence(r, 8 + r.nextInt(6))))
  }

  /** One random batch of `(id, text)` rows (either may be null) drawn
    * around `base`: ids repeat within a small range.
    */
  private def batch(seed: Int, base: Seq[(Long, String)])
      : Seq[(Option[Long], Option[String])] = {
    val r = new Random(seed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    def pick(): String =
      if (texts.nonEmpty && r.nextBoolean()) texts(r.nextInt(texts.size))
      else base(r.nextInt(base.size))._2
    val rows = (0 until 24).map { _ =>
      val text = r.nextInt(9) match {
        case 0 => sentence(r, 8 + r.nextInt(6))  // fresh
        case 1 => pick()                          // verbatim
        case 2 => reformat(pick())                // exact after normalizing
        case 3 | 4 => edit(r, pick())             // near
        case 5 => sentence(r, 1 + r.nextInt(2))   // shorter than shingleN
        case 6 => ""                              // no band rows
        case _ => sentence(r, 8 + r.nextInt(6))
      }
      if (text.trim.split("\\s+").length >= 3) texts += text
      val id = if (r.nextInt(12) == 0) None else Some(100L + r.nextInt(14))
      (id, if (r.nextInt(14) == 0) None else Some(text))
    }
    // a repeated id on an equal text and on a near text, every batch
    val (t1, t2) = (sentence(r, 10), sentence(r, 10))
    rows ++ Seq((Some(90L), Some(t1)), (Some(90L), Some(t1)),
      (Some(91L), Some(t2)), (Some(91L), Some(edit(r, t2))),
      (Some(92L), Some(t2)))
  }

  private def frame(rows: Seq[(Option[Any], Option[String])],
      idType: DataType): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, t) =>
        org.apache.spark.sql.Row(i.orNull, t.orNull) }: _*),
      StructType(Seq(StructField("id", idType), StructField("text", StringType))))

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).view
      .mapValues(_.size).toMap

  /** Asserts parity; returns how many exact survivors the near-dup
    * stage dropped, so a test can see that stage was exercised.
    */
  private def assertParity(path: String, docs: DataFrame, what: String)
      : Long = {
    val want = reference(path, docs, "id", "text")
    val got = DedupIndex.dedupBatch(spark, path, docs, "id", "text")
    assert(multiset(got.survivors) === multiset(want.survivors),
      s"$what: survivors")
    assert(multiset(got.newHashes) === multiset(want.newHashes),
      s"$what: newHashes")
    assert(multiset(got.newBuckets) === multiset(want.newBuckets),
      s"$what: newBuckets")
    want.newHashes.count() - want.survivors.count()
  }

  private def build(rows: Seq[(Any, String)], idType: DataType): String = {
    val path = Files.createTempDirectory("dedup_parity").toString + "/index"
    DedupIndex.build(frame(rows.map { case (i, t) => (Some(i), Some(t)) },
      idType), "id", "text", path, numFiles = 2)
    path
  }

  test("dedupBatch equals the join formulation on random batches with" +
      " long ids") {
    val base = corpus(7)
    val path = build(base, LongType)
    val nearDropped = (1 to 6).map { seed =>
      assertParity(path, frame(batch(seed, base), LongType), s"seed $seed")
    }
    assert(nearDropped.sum > 0)
    // no key reaches the driver: both In filters are empty
    assertParity(path, frame(Seq((None, Some(base(0)._2)),
      (Some(5L), None)), LongType), "null keys only")
    assertParity(path, frame(Nil, LongType), "empty batch")
  }

  test("dedupBatch equals the join formulation on random batches with" +
      " string ids") {
    // d100 < d1000 < d101 < d90: string order, not numeric order
    def sid(i: Long) = s"d${if (i % 3 == 0) i * 10 else i}"
    val base = corpus(8)
    val path = build(base.map { case (i, t) => (sid(i), t) }, StringType)
    val nearDropped = (11 to 14).map { seed =>
      val rows = batch(seed, base).map { case (i, t) => (i.map(sid), t) }
      assertParity(path, frame(rows, StringType), s"seed $seed")
    }
    assert(nearDropped.sum > 0)
  }
}
