package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Parallelism guard for single-file local inputs.
  *
  * Several operators self-join or scan a table whose local test form is
  * one small parquet file — one input split, so every per-row computation
  * before the first exchange runs in a single task. A `repartition`
  * spreads that work across cores. At real scale the input already has
  * (many) more splits than cores and the same repartition would be a
  * gratuitous full shuffle of the payload — so it is gated on the input
  * split count (VERDICT r3 finding #5).
  */
object Spread {

  /** `df.repartition(key)` when the plan's file sources provide fewer
    * files than `defaultParallelism`; `df` unchanged otherwise, and
    * when the plan has no file source to count. A frame without one is
    * not small by construction: a checkpoint of a rewritten corpus is
    * one, and AQE may have coalesced it to a single partition. Such
    * frames are spread where they are made, by partition count, in
    * [[Dedup.materialize]].
    */
  def ifNarrow(df: DataFrame, key: Column): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val files = df.inputFiles.length
    // explicit partition count: a bare repartition(key) is AQE-coalescible,
    // and these exchanges are tiny by byte size precisely because the
    // expensive per-row compute happens *above* them — coalescing to one
    // partition would serialize it again
    if (files > 0 && files < cores) df.repartition(cores, key) else df
  }
}
