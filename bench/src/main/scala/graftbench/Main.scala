package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** What one round of a workload produced. `digest` covers every output of
  * the round, order-insensitively; `rowsIn`/`rowsOut` count rows consumed
  * and produced by the library calls; `docs` counts input records (puffy
  * rows or documents); `filesWritten` counts files the round left on disk;
  * `extra` carries workload-specific per-round values. The runner fills in
  * `rowsWritten`, the rows Spark reported writing to files in the round.
  */
final case class RoundOut(
    digest: String,
    rowsIn: Long,
    rowsOut: Long,
    docs: Long,
    filesWritten: Long = 0L,
    extra: Map[String, Double] = Map.empty,
    rowsWritten: Long = 0L) {
  def rows: Long = rowsIn + rowsOut + rowsWritten
}

/** A named correctness check. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Everything recorded for one traced round. */
final case class TracedRound(
    roundS: Double,
    spans: Vector[Span],
    costs: Map[Int, SpanCost],
    progress: Vector[BatchProgress],
    out: RoundOut)

/** A metric as printed and reported in the JSON result. */
final case class Metric(name: String, value: Double, unit: String)

trait Workload {
  def name: String
  /** Untimed rounds before the checks and the timed phase (first-call
    * JIT, codegen).
    */
  def warmupRounds: Int
  /** Untimed rounds after the checks, before the timed phase: the JIT is
    * still compiling after the warm-up, more slowly when the host is busy.
    */
  def settleRounds: Int = 0
  /** Fewest timed rounds, even if the rounds outlast `--seconds`. */
  def minRounds: Int
  /** Seeded, driver-only input generation. */
  def generate(seed: Long): Unit
  def inputDigest: String
  /** Hand the generated inputs to Spark (cached frames, input files). */
  def materialize(spark: SparkSession, inputs: File): Unit
  /** One round: the timed library calls. */
  def round(spark: SparkSession, dir: File): Unit
  /** What the last round produced; runs untimed, before `dir` is deleted. */
  def result(spark: SparkSession, dir: File): RoundOut
  /** Correctness checks, run once, untimed, after the warm-up (on the
    * last warm-up round's outputs, or on calls of their own). With `trace`
    * the checks also print the traced run's extra records.
    */
  def verify(spark: SparkSession, trace: Boolean): Seq[Check]
  /** Untimed per-layer measurements that are not part of a round. */
  def kernels(spark: SparkSession): Map[String, Double] = Map.empty
  /** Per-layer metrics of this workload from its traced rounds. */
  def layerMetrics(rounds: Seq[TracedRound]): Map[String, Double]
  /** Workload-specific end-to-end figures printed as text lines. */
  def reportLines(rounds: Seq[RoundOut], roundSpans: Seq[Vector[Span]]): Seq[String] = Nil
}

object Calls {
  var attempted = 0L
  var failed = 0L

  /** One call into the library; a throw counts as a failed call. */
  def apply[T](body: => T): T = {
    attempted += 1
    try body
    catch { case e: Throwable => failed += 1; throw e }
  }

  /** A lazy library call and its noop-sink action, inside one span; the
    * call itself (plan building and any eager jobs it runs) is a child
    * span named `<name>.plan`. Returns the output's (rows, digest).
    */
  def sink(name: String, layer: String)(plan: => DataFrame): (Long, String) =
    Spans(name, layer) {
      apply {
        val df = Spans(name + ".plan", layer)(plan)
        Sink.noop(df)
      }
    }
}

object Sink {
  /** Run `df` into the noop sink and observe its row count and an
    * order-insensitive digest on the way.
    */
  def noop(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
        sum(h.bitwiseAND(lit(0xffffffL))).as("s"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    (n, s"$n:${m("x")}:${m("s")}")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "puffy_reshape" -> (() => new PuffyReshape),
    "curate_corpus" -> (() => new CurateCorpus),
    "index_lifecycle" -> (() => new IndexLifecycle))

  val SetupRepeats = 3

  private def usage(msg: String): Nothing = {
    System.err.println(s"error: $msg")
    System.err.println("usage: Main --workload <" +
      Workloads.keys.toSeq.sorted.mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--cores <k>]" +
      " [--digest-only]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = mutable.Map.empty[String, String]
    var digestOnly = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--digest-only" => digestOnly = true; i += 1
        case k if k.startsWith("--") && i + 1 < args.length =>
          opts(k.drop(2)) = args(i + 1); i += 2
        case other => usage(s"unexpected argument '$other'")
      }
    }
    val wlName = opts.getOrElse("workload", usage("--workload is required"))
    val wl = Workloads.getOrElse(wlName, () => usage(s"unknown workload '$wlName'"))()
    val seed = opts.get("seed").flatMap(_.toLongOption)
      .getOrElse(usage("--seed must be an integer"))
    if (digestOnly) {
      wl.generate(seed)
      println(s"""{"workload": "$wlName", "seed": $seed, "input_digest": "${wl.inputDigest}"}""")
      return
    }
    val seconds = opts.get("seconds").flatMap(_.toDoubleOption)
      .filter(_ > 0).getOrElse(usage("--seconds must be a positive number"))
    val trace = opts.get("trace") match {
      case Some("0") => false
      case Some("1") => true
      case _ => usage("--trace must be 0 or 1")
    }
    val work = new File(opts.getOrElse("work", usage("--work is required")))
    val cores = opts.get("cores").flatMap(_.toIntOption).getOrElse(
      math.min(4, Runtime.getRuntime.availableProcessors()))
    sys.exit(new Runner(wl, seed, seconds, trace, work, cores).run())
  }
}

/** One benchmark run: set-up, warm-up, checks, timed rounds, report. */
final class Runner(wl: Workload, seed: Long, seconds: Double, trace: Boolean,
    work: File, cores: Int) {

  private val checks = mutable.ArrayBuffer.empty[Check]

  /** The run's fixed Spark settings (besides the master `local[cores]`). */
  private def settings: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.default.parallelism" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // a round generates about a hundred classes; with Spark's default
    // cache of 100 they evict each other at random and rounds recompile
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.ui.enabled" -> "false",
    "spark.ui.showConsoleProgress" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.driver.host" -> "127.0.0.1",
    "spark.driver.bindAddress" -> "127.0.0.1",
    "spark.local.dir" -> new File(work, "spark-local").getPath,
    "spark.sql.warehouse.dir" -> new File(work, "warehouse").getPath,
    // Spark's status store keeps recent jobs, stages and query plans on
    // the heap; a small fixed retention keeps heap_live_mb independent of
    // how many rounds fit in the run
    "spark.ui.retainedJobs" -> "10",
    "spark.ui.retainedStages" -> "10",
    "spark.sql.ui.retainedExecutions" -> "2") ++ FsOps.conf

  private def session(): SparkSession = {
    val spark = settings.foldLeft(SparkSession.builder().master(s"local[$cores]")
      .appName(s"graft-bench-${wl.name}")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def printConfig(spark: SparkSession): Unit = {
    println(s"config: master=${spark.sparkContext.master} " +
      s"heap_max_mb=${Runtime.getRuntime.maxMemory / 1048576} " +
      s"nproc=${Runtime.getRuntime.availableProcessors()} " +
      s"spark=${spark.version} java=${System.getProperty("java.version")}")
    println("config: " + settings.map { case (k, v) => s"$k=$v" }.mkString(" "))
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  /** Heap in use after a full GC; the least of three readings 200 ms
    * apart. The ContextCleaner frees unreachable cached blocks only after
    * a GC has found them, on its own thread, so one reading can still
    * count them.
    */
  private def heapLiveMb(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.BenchAccess.drainListenerBus(sc)
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Share of CPU time the hypervisor gave to others (`steal` in
    * /proc/stat), to tell a noisy host from a slow program.
    */
  private def cpuTicks(): Option[(Long, Long)] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    }.toOption

  def run(): Int = {
    println(s"workload=${wl.name} seed=$seed seconds=$seconds trace=${if (trace) 1 else 0}")
    val inputs = new File(work, "inputs")
    val rounds = new File(work, "rounds")
    // set-up: session start plus seeded generation, repeated; median
    var spark: SparkSession = null
    val setupTimes = (0 until Main.SetupRepeats).map { _ =>
      if (spark != null) { spark.stop(); spark = null }
      deleteTree(inputs)
      val t0 = System.nanoTime()
      spark = session()
      wl.generate(seed)
      wl.materialize(spark, inputs)
      (System.nanoTime() - t0) / 1e9
    }
    printConfig(spark)
    println(s"input_digest=${wl.inputDigest} setup_runs_s=" +
      setupTimes.map(t => f"$t%.3f").mkString(","))
    val sc = spark.sparkContext
    val counter = new JobRecorder(detail = false)
    sc.addSparkListener(counter)

    var roundNo = 0
    def freshDir(): File = {
      val d = new File(rounds, s"r$roundNo")
      roundNo += 1
      deleteTree(d)
      d.mkdirs()
      d
    }

    val timed = mutable.ArrayBuffer.empty[(Double, RoundOut, Boolean)]
    val perRoundCounts = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val tracedRounds = mutable.ArrayBuffer.empty[TracedRound]
    val untracedSpans = mutable.ArrayBuffer.empty[Vector[Span]]
    var kernelMetrics = Map.empty[String, Double]
    var warmDigests = Seq.empty[String]
    var error: Option[Throwable] = None

    // JIT compile time (all compiler threads) and classes loaded per
    // round, signs of how far the warm-up has got
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val classes = java.lang.management.ManagementFactory.getClassLoadingMXBean

    def oneRound(traced: Boolean): (Double, RoundOut) = {
      val dir = freshDir()
      val detail = new JobRecorder(detail = true)
      val progress = new ProgressRecorder
      if (traced) {
        sc.addSparkListener(detail)
        spark.streams.addListener(progress)
        Spans.fsEnabled = true
      }
      val jit0 = jit.getTotalCompilationTime
      val cls0 = classes.getTotalLoadedClassCount
      val t0 = System.nanoTime()
      try wl.round(spark, dir)
      finally {
        Spans.fsEnabled = false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val out = wl.result(spark, dir)
      org.apache.spark.BenchAccess.drainListenerBus(sc)
      val counted = counter.take()
      val rowsWritten = counted.map(_.outputRecords).sum
      val spans = Spans.take()
      if (traced) {
        sc.removeSparkListener(detail)
        spark.streams.removeListener(progress)
        val jobs = detail.take()
        tracedRounds += TracedRound(dt, spans, Attribution(spans, jobs),
          progress.take(), out)
      } else untracedSpans += spans
      perRoundCounts += ((counted.size, rowsWritten, out.filesWritten))
      deleteTree(dir)
      System.err.println(f"round ${roundNo - 1} traced=$traced ${dt}%.3f s jobs=${counted.size} " +
        s"jit_ms=${jit.getTotalCompilationTime - jit0} " +
        s"classes_loaded=${classes.getTotalLoadedClassCount - cls0}")
      (dt, out.copy(rowsWritten = rowsWritten))
    }

    try {
      warmDigests = (0 until wl.warmupRounds).map(_ => oneRound(traced = false)._2.digest)
      checks ++= wl.verify(spark, trace)
      org.apache.spark.BenchAccess.drainListenerBus(sc)
      counter.take(); Spans.take()
      var last = 0.0
      warmDigests ++= (0 until wl.settleRounds).map { _ =>
        val (dt, out) = oneRound(traced = false)
        last = dt
        out.digest
      }
      untracedSpans.clear()
      val ticks0 = cpuTicks()
      val start = System.nanoTime()
      var n = 0
      // a traced run alternates traced and untraced rounds in the order
      // T U U T, so neither kind sits in the earlier (less warm) slots;
      // with one round fewest (index_lifecycle) it times only T U
      val fewest = if (trace) 2 * wl.minRounds else wl.minRounds
      // a round starts only if one as long as the last fits in the window,
      // so a run lasts about `seconds` however long its rounds are
      while (n < fewest || (System.nanoTime() - start) / 1e9 + last <= seconds) {
        val traced = trace && (n % 4 == 0 || n % 4 == 3)
        val (dt, out) = oneRound(traced)
        timed += ((dt, out, traced))
        last = dt
        n += 1
      }
      for ((t0, s0) <- ticks0; (t1, s1) <- cpuTicks() if t1 > t0)
        println(f"host_steal_pct ${100.0 * (s1 - s0) / (t1 - t0)}%.1f (timed phase)")
      if (trace) kernelMetrics = wl.kernels(spark)
    } catch {
      case e: Throwable =>
        error = Some(e)
        System.err.println(s"round failed: $e")
        e.printStackTrace()
    }
    val heapMb = heapLiveMb(sc)
    spark.stop()
    deleteTree(rounds)

    // correctness across rounds, warm-up rounds included: identical
    // outputs and identical exact per-round counts (jobs, rows written,
    // files written); a check over fewer than two rounds compares nothing
    if (timed.nonEmpty) {
      val all = warmDigests ++ timed.map(_._2.digest)
      val digests = all.distinct
      checks += Check("digest_stable_across_rounds", all.size >= 2 && digests.size == 1,
        s"${digests.size} distinct digest(s) over ${warmDigests.size} warm-up and " +
          s"${timed.size} timed rounds: ${digests.head}")
      val counts = perRoundCounts.distinct
      checks += Check("round_counts_repeat", perRoundCounts.size >= 2 && counts.size == 1,
        s"${perRoundCounts.size} rounds: " +
          counts.map { case (j, r, f) => s"jobs=$j rows_written=$r files=$f" }
            .mkString(" | "))
    }
    error.foreach(e => checks += Check("no_call_threw", ok = false, e.toString))
    checks.foreach { c =>
      println(s"check ${if (c.ok) "ok  " else "FAIL"} ${c.name}: ${c.detail}")
    }
    timed.headOption.foreach(t => println(s"output_digest=${t._2.digest}"))
    val correct = checks.nonEmpty && checks.forall(_.ok) && error.isEmpty

    val untraced = timed.filterNot(_._3)
    val roundTimes = untraced.map(_._1)
    val metrics: Seq[Metric] =
      if (!trace) endToEnd(setupTimes, untraced.toSeq, heapMb)
      else layerMetrics(tracedRounds.toSeq, roundTimes.toSeq, kernelMetrics)
    if (!trace && untraced.nonEmpty)
      wl.reportLines(untraced.map(_._2).toSeq, untracedSpans.toSeq)
        .foreach(println)
    println(f"fail_ratio ${Calls.failed.toDouble / math.max(1L, Calls.attempted)}%.4f ratio " +
      s"(failed=${Calls.failed} attempted=${Calls.attempted})")
    metrics.foreach(m => println(f"metric ${m.name} ${m.value}%.6f ${m.unit}"))
    println(Json.result(correct, Calls.attempted, Calls.failed, metrics))
    if (correct) 0 else 1
  }

  private def endToEnd(setupTimes: Seq[Double], rounds: Seq[(Double, RoundOut, Boolean)],
      heapMb: Double): Seq[Metric] = {
    val ts = rounds.map(_._1)
    println(f"round_s p50=${Stats.median(ts)}%.4f max=${(0.0 +: ts).max}%.4f n=${ts.size}")
    // rates per round, median over rounds (every round does the same work)
    Seq(
      Metric("setup_s", Stats.median(setupTimes), "s"),
      Metric("round_s.p50", Stats.median(ts), "s"),
      Metric("rows_per_s", Stats.median(rounds.map(r => r._2.rows / r._1)), "1/s"),
      Metric("docs_per_s", Stats.median(rounds.map(r => r._2.docs / r._1)), "1/s"),
      Metric("heap_live_mb", heapMb, "MB"))
  }

  /** The traced rounds' spans, one JSON object a line, kept in memory
    * until now.
    */
  private def writeSpans(traced: Seq[TracedRound]): Unit = {
    val dir = new File(work.getParentFile, "out")
    dir.mkdirs()
    val f = new File(dir, s"spans-${wl.name}-$seed.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try traced.zipWithIndex.foreach { case (r, i) =>
      r.spans.foreach { s =>
        val c = r.costs(s.id)
        w.println(Json.obj(Seq("round" -> i, "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "layer" -> s.layer, "family" -> s.family, "step" -> s.step,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durS,
          "self_s" -> c.selfS, "jobs" -> c.jobCount, "tasks" -> c.tasks,
          "exec_cpu_s" -> c.cpuS, "driver_only_s" -> c.driverOnlyS,
          "fs_bytes_written" -> s.fsBytes, "fs_ops" -> s.fsOps)))
      }
    } finally w.close()
    println(s"spans written to ${f.getPath}")
  }

  private def layerMetrics(traced: Seq[TracedRound], untracedTimes: Seq[Double],
      kernels: Map[String, Double]): Seq[Metric] = {
    writeSpans(traced)
    val values = LayerMetrics.defaults ++ wl.layerMetrics(traced) ++ kernels +
      ("bench.trace_overhead" ->
        (Stats.median(traced.map(_.roundS)) - Stats.median(untracedTimes)))
    println(f"traced rounds=${traced.size} round_s.p50=${Stats.median(traced.map(_.roundS))}%.4f; " +
      f"untraced rounds=${untracedTimes.size} round_s.p50=${Stats.median(untracedTimes)}%.4f")
    LayerMetrics.names.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** A flat object of numbers and plain (unescaped) identifier strings. */
  def obj(fields: Seq[(String, Any)]): String = fields.map {
    case (k, v: String) => s""""$k": "$v""""
    case (k, v: Double) => s""""$k": ${num(v)}"""
    case (k, v) => s""""$k": $v"""
  }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Long, failed: Long, ms: Seq[Metric]): String = {
    val body = ms.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(", ")
    s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, "failed": $failed, "metrics": {$body}}"""
  }
}
