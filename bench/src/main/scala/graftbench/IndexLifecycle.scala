package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.sources.{DedupIndex, RetrievalIndex}
import graft.streaming.{StreamingDedup, StreamingRetrieval}

/** index_lifecycle: the persisted-index lifecycle of both index families
  * (`dedup` = DedupIndex, `bm25` = RetrievalIndex). Every round starts in
  * a fresh directory with a fresh stream checkpoint and runs
  * build → ingest (K micro-batches through each family's streaming
  * ingest, one pre-written file per micro-batch, `Trigger.AvailableNow`)
  * → read-only probes → compact → the same probes again.
  */
final class IndexLifecycle extends Workload {
  val name = "index_lifecycle"
  val warmupRounds = 1
  val minRounds = 1
  val BaseDocs = 1500
  val Batches = 2
  /** Files per artifact for build, ingest and compact (one per core). */
  val NumFiles = 4
  /** Ingest and probe batches of 1% of the base, as `graft.Stress`'s
    * `dedup_index_10x` appends.
    */
  val BatchDocs = 15
  val ProbeDocs = 15
  val Queries = 10

  private var data: Lifecycle = _
  private var base: DataFrame = _
  private var probeDocs: DataFrame = _
  private var batchDir: File = _
  private val docSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType)))

  def generate(seed: Long): Unit =
    data = LifecycleGen(seed, BaseDocs, Batches, BatchDocs, ProbeDocs, Queries)
  def inputDigest: String = data.digest

  def materialize(spark: SparkSession, inputs: File): Unit = {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    def frame(ds: Vector[Doc], parts: Int) =
      spark.sparkContext.parallelize(ds.map(d => (d.id, d.text)), parts).toDF("id", "text")
    base = frame(data.base, cores).persist(StorageLevel.MEMORY_ONLY)
    probeDocs = frame(data.probeDocs, 1).persist(StorageLevel.MEMORY_ONLY)
    base.count(); probeDocs.count()
    // one parquet file per micro-batch, in arrival order by mtime
    batchDir = new File(inputs, "batches")
    batchDir.mkdirs()
    data.batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = new File(inputs, s"tmp_$i")
      frame(b, 1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = new File(batchDir, f"batch_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1000000000000L + i * 1000L)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }

  private def stream(spark: SparkSession): DataFrame =
    spark.readStream.schema(docSchema).option("maxFilesPerTrigger", 1)
      .parquet(batchDir.getPath)

  private def bytesUnder(f: File): (Long, Long) =
    if (f.isFile) (1L, f.length)
    else Option(f.listFiles).getOrElse(Array.empty).map(bytesUnder)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** Read-only probes of both indexes, as comparable values. */
  private def probes(spark: SparkSession, dedup: String, bm25: String)
      : (Seq[Long], Seq[(Long, Long, Double)]) = {
    val surv = Spans("sources.dedup.probe", "sources", "dedup", "probe") {
      Calls(DedupIndex.dedupBatch(spark, dedup, probeDocs, "id", "text")
        .survivors.select("id").collect().map(_.getLong(0)).sorted.toSeq)
    }
    val scores = Spans("sources.bm25.probe", "sources", "bm25", "probe") {
      Calls(RetrievalIndex.score(spark, bm25, data.queries).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq)
    }
    (surv, scores)
  }

  /** Probe results before and after compaction, and bytes written. */
  private var probed: ((Seq[Long], Seq[(Long, Long, Double)]),
    (Seq[Long], Seq[(Long, Long, Double)]), Long) = _
  private var ingested: Seq[Long] = Nil
  private var live = Map.empty[String, (Long, Long)]

  def round(spark: SparkSession, dir: File): Unit = {
    val dedup = new File(dir, "dedup").getPath
    val bm25 = new File(dir, "bm25").getPath
    val out = new File(dir, "dedup_out").getPath
    val fs0 = FsStats.snapshot()
    Spans("sources.dedup.build", "sources", "dedup", "build") {
      Calls(DedupIndex.build(base, "id", "text", dedup, numFiles = NumFiles))
    }
    Spans("sources.bm25.build", "sources", "bm25", "build") {
      Calls(RetrievalIndex.build(base, "id", "text", bm25, numFiles = NumFiles))
    }
    Spans("streaming.indexedDedupStream", "streaming", "dedup", "ingest") {
      Calls(StreamingDedup.indexedDedupStream(stream(spark), dedup, out, "id", "text",
          numFiles = NumFiles)
        .option("checkpointLocation", new File(dir, "ckpt_dedup").getPath)
        .queryName("dedup_ingest").trigger(Trigger.AvailableNow()).start()
        .awaitTermination())
    }
    Spans("streaming.indexIngestStream", "streaming", "bm25", "ingest") {
      Calls(StreamingRetrieval.indexIngestStream(stream(spark), bm25, "id", "text",
          numFiles = NumFiles)
        .option("checkpointLocation", new File(dir, "ckpt_bm25").getPath)
        .queryName("bm25_ingest").trigger(Trigger.AvailableNow()).start()
        .awaitTermination())
    }
    val before = probes(spark, dedup, bm25)
    Spans("sources.dedup.compact", "sources", "dedup", "compact") {
      Calls(DedupIndex.compact(spark, dedup, numFiles = NumFiles))
    }
    Spans("sources.bm25.compact", "sources", "bm25", "compact") {
      Calls(RetrievalIndex.compact(spark, bm25, numFiles = NumFiles))
    }
    val after = probes(spark, dedup, bm25)
    probed = (before, after, FsStats.snapshot().bytesWritten - fs0.bytesWritten)
  }

  private def rounded(s: Seq[(Long, Long, Double)]) = s.map { case (q, d, v) =>
    (q, d, BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_EVEN)) }

  def result(spark: SparkSession, dir: File): RoundOut = {
    live = Seq("dedup", "bm25").map(f => f -> bytesUnder(new File(dir, f))).toMap
    ingested = spark.read.parquet(new File(dir, "dedup_out").getPath)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val ((survBefore, _), (survAfter, scoresAfter), written) = probed
    val text = data.textBytes.toDouble
    RoundOut(
      digest = Digest.of((survAfter.map(_.toString) ++
        rounded(scoresAfter).map(_.toString) ++ ingested.map(i => s"i$i")).iterator),
      rowsIn = 2 * data.indexedDocs + 2 * (ProbeDocs + Queries),
      // score rows are left out: how many there are depends on the
      // seed's query terms far more than on the work done
      rowsOut = ingested.size + survBefore.size + survAfter.size,
      docs = data.indexedDocs,
      filesWritten = bytesUnder(dir)._1,
      extra = Map(
        "space_amp" -> (live.values.map(_._2).sum / text),
        "write_amp" -> (written / text)))
  }

  /** Checks the outputs of the last warm-up round. */
  def verify(spark: SparkSession, trace: Boolean): Seq[Check] = {
    val ((sb, cb), (sa, ca), _) = probed
    val exactEqual = cb == ca
    // a known defect of RetrievalIndex.compact (NOTES.md, findings):
    // reported, not hidden
    if (!exactEqual)
      println("known_defect bm25_compact_scores_not_bit_identical max_abs_diff=" +
        cb.zip(ca).map { case (x, y) => math.abs(x._3 - y._3) }.maxOption.getOrElse(0.0))
    val batchIds = data.batches.flatten.map(_.id).toSet
    Seq(
      Check("dedup_probe_same_after_compact", sb == sa,
        s"${sb.size} survivors before, ${sa.size} after"),
      Check("bm25_probe_same_after_compact", rounded(cb) == rounded(ca),
        s"${cb.size} scores before, ${ca.size} after; bit-identical=$exactEqual"),
      Check("ingest_output_subset_of_batches", ingested.nonEmpty &&
        ingested.forall(batchIds), s"${ingested.size} docs ingested and kept"))
  }

  def layerMetrics(rounds: Seq[TracedRound]): Map[String, Double] = {
    import LayerMetrics._
    val perStep = for (f <- Families; s <- Steps) yield {
      def of(g: Seq[SpanCost] => Double) = perRound(rounds)(r =>
        g(top(r).filter(c => c.span.family == f && c.span.step == s)))
      val p = s"sources.$f.$s"
      Seq(
        s"${p}_s" -> of(_.map(_.span.durS).sum),
        s"$p.jobs" -> of(_.map(_.jobCount.toDouble).sum),
        s"$p.driver_only_s" -> of(_.map(_.driverOnlyS).sum),
        s"$p.exec_cpu_s" -> of(_.map(_.cpuS).sum),
        s"$p.bytes_written_mb" -> of(_.map(_.span.fsBytes / 1048576.0).sum),
        s"$p.fs_ops" -> of(_.map(_.span.fsOps.toDouble).sum))
    }
    val liveM = live.toSeq.flatMap { case (f, (files, bytes)) =>
      Seq(s"sources.$f.files_live" -> files.toDouble,
        s"sources.$f.bytes_live_mb" -> bytes / 1048576.0)
    }
    val ingestSpans = Seq("streaming.indexedDedupStream", "streaming.indexIngestStream")
    val queryOf = Map("streaming.indexedDedupStream" -> "dedup_ingest",
      "streaming.indexIngestStream" -> "bm25_ingest")
    val streaming = Seq(
      "streaming.batches" -> perRound(rounds)(_.progress.size.toDouble),
      "streaming.batch_s.p50" -> perRound(rounds)(r =>
        Stats.median(r.progress.map(_.triggerMs / 1e3))),
      "streaming.add_batch_s.p50" -> perRound(rounds)(r =>
        Stats.median(r.progress.map(_.addBatchMs / 1e3))),
      "streaming.overhead_s.p50" -> perRound(rounds)(r =>
        Stats.median(r.progress.map(p => (p.triggerMs - p.addBatchMs) / 1e3))),
      // query wall time outside its micro-batches: start, source set-up, stop
      "streaming.start_s" -> perRound(rounds)(r => ingestSpans.map { n =>
        r.spans.filter(_.name == n).map(_.durS).sum -
          r.progress.filter(_.query == queryOf(n)).map(_.triggerMs / 1e3).sum
      }.sum))
    val amp = Seq(
      "sources.space_amp" -> perRound(rounds)(_.out.extra("space_amp")),
      "sources.write_amp" -> perRound(rounds)(_.out.extra("write_amp")))
    (perStep.flatten ++ liveM ++ streaming ++ amp).toMap
  }

  override def reportLines(rounds: Seq[RoundOut], roundSpans: Seq[Vector[Span]]): Seq[String] = {
    val steps = LayerMetrics.Steps.map { s =>
      val ts = roundSpans.map(_.filter(x => x.parent < 0 && x.step == s).map(_.durS).sum)
      f"${s}_s.p50 ${Stats.median(ts)}%.4f s (max=${if (ts.isEmpty) 0.0 else ts.max}%.4f n=${ts.size}, both families summed)"
    }
    steps ++ Seq(
      f"space_amp ${Stats.median(rounds.map(_.extra("space_amp")))}%.6f ratio",
      f"write_amp ${Stats.median(rounds.map(_.extra("write_amp")))}%.6f ratio")
  }
}
