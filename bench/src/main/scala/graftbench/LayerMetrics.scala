package graftbench

/** The per-layer metric catalogue (names and units, as in BENCHMARK.json)
  * and helpers that fold traced rounds into per-layer values. A layer the
  * workload does not call reports 0.
  */
object LayerMetrics {
  val Families: Seq[String] = Seq("dedup", "bm25")
  val Steps: Seq[String] = Seq("build", "ingest", "probe", "compact")
  val CoreCalls: Seq[String] =
    Seq("toLong", "toLong_merge", "expandCol", "toPuffy", "multidPivot", "puffyToLong")

  val names: Seq[(String, String)] =
    CoreCalls.map(c => s"core.${c}_s" -> "s") ++ Seq(
      "core.plan_s" -> "s", "core.jobs" -> "count", "core.tasks" -> "count",
      "core.shuffle_write_mb" -> "MB", "core.exec_cpu_s" -> "s",
      "core.gc_s" -> "s", "core.fanout" -> "ratio",
      "functions.minhash_us_per_doc" -> "us", "functions.exec_cpu_s" -> "s",
      "operators.curate_s" -> "s", "operators.plan_s" -> "s",
      "operators.jobs" -> "count", "operators.stages" -> "count",
      "operators.shuffle_write_mb" -> "MB", "operators.shuffle_records" -> "count",
      "operators.spill_mb" -> "MB", "operators.exec_cpu_s" -> "s",
      "operators.gc_s" -> "s", "operators.peak_exec_mem_mb" -> "MB",
      "operators.driver_only_s" -> "s", "operators.survivor_ratio" -> "ratio",
      "operators.exact_dups_dropped" -> "ratio",
      "operators.near_dups_dropped" -> "ratio",
      "operators.contaminated_dropped" -> "ratio") ++
    (for (f <- Families; s <- Steps; (m, u) <- Seq(
        s"${s}_s" -> "s", s"$s.jobs" -> "count", s"$s.driver_only_s" -> "s",
        s"$s.exec_cpu_s" -> "s", s"$s.bytes_written_mb" -> "MB",
        s"$s.fs_ops" -> "count"))
      yield s"sources.$f.$m" -> u) ++
    Families.flatMap(f => Seq(s"sources.$f.files_live" -> "count",
      s"sources.$f.bytes_live_mb" -> "MB")) ++ Seq(
      "sources.space_amp" -> "ratio", "sources.write_amp" -> "ratio",
      "streaming.batches" -> "count", "streaming.batch_s.p50" -> "s",
      "streaming.add_batch_s.p50" -> "s", "streaming.overhead_s.p50" -> "s",
      "streaming.start_s" -> "s", "bench.trace_overhead" -> "s")

  val defaults: Map[String, Double] = names.map(_._1 -> 0.0).toMap

  /** Top-level spans of a round (the calls the workload made directly). */
  def top(r: TracedRound): Seq[SpanCost] =
    r.spans.filter(_.parent < 0).map(s => r.costs(s.id))

  /** Median over rounds of a per-round value. */
  def perRound(rounds: Seq[TracedRound])(f: TracedRound => Double): Double =
    Stats.median(rounds.map(f))

  /** Median over rounds of the summed wall time of spans named `name`. */
  def spanSeconds(rounds: Seq[TracedRound], name: String): Double =
    perRound(rounds)(_.spans.filter(_.name == name).map(_.durS).sum)

  /** Job-level totals of a layer's top-level spans, as per-round medians. */
  def layerTotals(rounds: Seq[TracedRound], layer: String,
      prefix: String): Map[String, Double] = {
    def of(f: Seq[SpanCost] => Double) =
      perRound(rounds)(r => f(top(r).filter(_.span.layer == layer)))
    Map(
      s"$prefix.jobs" -> of(_.map(_.jobCount.toDouble).sum),
      s"$prefix.tasks" -> of(_.map(_.tasks.toDouble).sum),
      s"$prefix.stages" -> of(_.map(_.stages.toDouble).sum),
      s"$prefix.shuffle_write_mb" -> of(_.map(_.shuffleWriteMb).sum),
      s"$prefix.shuffle_records" -> of(_.map(_.shuffleRecords.toDouble).sum),
      s"$prefix.spill_mb" -> of(_.map(_.spillMb).sum),
      s"$prefix.exec_cpu_s" -> of(_.map(_.cpuS).sum),
      s"$prefix.gc_s" -> of(_.map(_.gcS).sum),
      s"$prefix.peak_exec_mem_mb" -> of(cs => (0.0 +: cs.map(_.peakExecMemMb)).max),
      s"$prefix.driver_only_s" -> of(_.map(_.driverOnlyS).sum))
  }
}
