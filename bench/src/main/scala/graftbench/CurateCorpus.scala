package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions.{minhashBuckets, shingleHashes}
import graft.operators.Pipeline

/** curate_corpus: ROADMAP's composed end-to-end path. One round is one
  * `Pipeline.curate` call into the noop sink, with the length and quality
  * gates, line dedup, MinHash near-dup and the probe decontamination on.
  * The planted rates (see [[CorpusGen]]) set how much each dedup stage
  * has to remove.
  */
final class CurateCorpus extends Workload {
  val name = "curate_corpus"
  val warmupRounds = 2
  override val settleRounds = 2
  val minRounds = 3
  /** Documents in the corpus: as many as the test corpus's documents
    * table at scale factor 0.1, the scale `graft.Bench` runs at.
    */
  val Docs = 5000
  val MinChars = 60
  val MaxChars = 5000
  val KernelRepeats = 5

  private var corpus: Corpus = _
  private var docs: DataFrame = _
  private var probe: DataFrame = _

  def generate(seed: Long): Unit = corpus = CorpusGen(seed, Docs)
  def inputDigest: String = corpus.digest

  def materialize(spark: SparkSession, inputs: File): Unit = {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    docs = spark.sparkContext.parallelize(corpus.docs.map(d => (d.id, d.text)), cores)
      .toDF("id", "text").persist(StorageLevel.MEMORY_ONLY)
    probe = corpus.probe.map(d => (d.id, d.text)).toDF("id", "text")
      .persist(StorageLevel.MEMORY_ONLY)
    docs.count(); probe.count()
  }

  private def curate(stageFrames: Option[mutable.Buffer[(String, DataFrame)]] = None) =
    Pipeline.curate(docs, "id", "text", probe = Some(probe),
      minChars = MinChars, maxChars = MaxChars, qualityFilter = true,
      dedupLines = true, nearDup = true, stageFrames = stageFrames)

  private var last: (Long, String) = _

  def round(spark: SparkSession, dir: File): Unit =
    last = Calls.sink("operators.curate", "operators")(curate())

  def result(spark: SparkSession, dir: File): RoundOut =
    RoundOut(last._2, rowsIn = corpus.docs.size + corpus.probe.size,
      rowsOut = last._1, docs = corpus.docs.size)

  private var guards = Map.empty[String, Double]

  /** One curate call collected to the driver, with the frame after its
    * exact-dedup stage from curate's `stageFrames` hook; the traced run
    * also prints the per-stage row funnel.
    */
  def verify(spark: SparkSession, trace: Boolean): Seq[Check] = {
    val funnel = mutable.ArrayBuffer.empty[(String, DataFrame)]
    val out = Calls(curate(Some(funnel)).select("id", "text").collect())
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    if (trace)
      funnel.foreach { case (stage, f) => println(s"funnel $stage ${Calls(f.count())}") }
    val inputIds = corpus.docs.map(_.id).toSet
    val kept = out.keySet
    def droppedShare(ids: Seq[Long]): Double =
      if (ids.isEmpty) 1.0 else ids.count(i => !kept(i)).toDouble / ids.size
    // exact dedup keeps one member of each group. The MinHash stage after
    // it drops any document that shares a band bucket with a lower id,
    // similar or not, so a group may lose that member there
    val afterExact = funnel.find(_._1 == "exact_dedup").map { case (_, f) =>
      Calls(f.select("id", "text").collect()).map(r => r.getLong(0) -> r.getString(1)).toMap
    }.getOrElse(Map.empty[Long, String])
    def withText(m: Map[Long, String], g: Seq[Long]) = g.count(i => m.get(i).exists(_.nonEmpty))
    val exactSurvivors = corpus.exactGroups.map(withText(afterExact, _))
    val groupSurvivors = corpus.exactGroups.map(withText(out, _))
    println(s"guard curate.groups_lost_after_exact_dedup ${groupSurvivors.count(_ == 0)}")
    val emptySurvivors = out.collect { case (i, t) if t.isEmpty => i }.toSeq.sorted
    // a known defect of curate (NOTES.md, findings): reported, not hidden
    if (emptySurvivors.nonEmpty)
      println(s"known_defect curate_keeps_empty_text_survivor ids=${emptySurvivors.mkString(",")}")
    guards = Map(
      "operators.survivor_ratio" -> kept.size.toDouble / corpus.docs.size,
      "operators.exact_dups_dropped" -> droppedShare(corpus.exactCopies),
      "operators.near_dups_dropped" -> droppedShare(corpus.nearCopies),
      "operators.contaminated_dropped" -> droppedShare(corpus.contaminated))
    guards.foreach { case (k, v) => println(f"guard $k $v%.6f") }
    Seq(
      Check("exact_dedup_keeps_one_per_group", exactSurvivors.forall(_ == 1),
        s"${exactSurvivors.count(_ != 1)} of ${exactSurvivors.size} groups " +
          "do not keep exactly one non-empty member after exact dedup"),
      Check("output_keeps_at_most_one_per_group", groupSurvivors.forall(_ <= 1),
        s"${groupSurvivors.count(_ > 1)} of ${groupSurvivors.size} groups keep more than one"),
      // line dedup empties every later exact copy; curate keeps a single
      // empty-text representative of those (exact dedup folds them)
      Check("at_most_one_empty_survivor", emptySurvivors.size <= 1,
        s"${emptySurvivors.size} survivors with empty text, ids " +
          emptySurvivors.mkString(",")),
      Check("contaminated_all_dropped", corpus.contaminated.forall(i => !kept(i)),
        s"${corpus.contaminated.count(kept)} of ${corpus.contaminated.size} kept"),
      Check("output_ids_subset_of_input", kept.subsetOf(inputIds),
        s"${(kept -- inputIds).size} unknown ids"),
      Check("too_short_docs_dropped", corpus.tooShort.forall(i => !kept(i)),
        s"${corpus.tooShort.count(kept)} of ${corpus.tooShort.size} kept"))
  }

  /** MinHash kernel alone: a noop projection of shingle hashes into band
    * buckets over the whole corpus, repeated; per-doc time and CPU.
    */
  override def kernels(spark: SparkSession): Map[String, Double] = {
    val runs = (0 until KernelRepeats).map { _ =>
      val detail = new JobRecorder(detail = true)
      spark.sparkContext.addSparkListener(detail)
      val t0 = System.nanoTime()
      Calls(docs.select(minhashBuckets(shingleHashes(col("text"), 3), 16, 8).as("b"))
        .write.format("noop").mode("overwrite").save())
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(detail)
      (dt, detail.take().map(_.cpuNs).sum / 1e9)
    }
    Map(
      "functions.minhash_us_per_doc" -> Stats.median(runs.map(_._1)) * 1e6 / corpus.docs.size,
      "functions.exec_cpu_s" -> Stats.median(runs.map(_._2)))
  }

  def layerMetrics(rounds: Seq[TracedRound]): Map[String, Double] = {
    import LayerMetrics._
    layerTotals(rounds, "operators", "operators") ++ guards ++ Map(
      "operators.curate_s" -> spanSeconds(rounds, "operators.curate"),
      "operators.plan_s" -> spanSeconds(rounds, "operators.curate.plan"))
  }
}
