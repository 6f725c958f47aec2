package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistence for materialized trainer packs — the last hop of the
  * corpus→trainer pipeline ([[graft.operators.Sampling.packSequences]] →
  * [[graft.operators.Sampling.materializePacks]] → THIS): size-bounded,
  * deterministically-sharded training files a data-parallel trainer can
  * consume rank-by-rank, plus a `meta` record that makes a pack set
  * self-describing.
  *
  * Layout under one base path (the [[AnnIndex]] artifact pattern):
  *
  *  - `meta`: `(seq_tokens, n_buckets, merges_fingerprint)` —
  *    a loader refuses to mix packs built under different packing
  *    params, and the merges fingerprint
  *    ([[graft.functions.Bpe.mergesFingerprint]]) pins WHICH vocabulary
  *    produced the token ids (feeding packs tokenized under vocabulary
  *    A to a trainer embedding table built for vocabulary B is the
  *    classic silent-corruption bug this field exists to catch);
  *  - `packs/pack_bucket=<b>/...`: the pack rows
  *    `(pack_id, n_tokens, token_ids)`, directory-partitioned by
  *    bucket so a rank reading its bucket prunes every other directory
  *    at the file listing, rows sorted by `pack_id` within files so
  *    pack-range reads prune row groups.
  *
  * File-count discipline: total data files are bounded by ~`numFiles`
  * regardless of corpus size — each bucket writes at most
  * `max(1, numFiles / nBuckets)` shards, shard = `pack_id mod shards`
  * (deterministic: a rerun over the same corpus produces the same
  * pack→shard assignment, so downstream caching/diffing by shard is
  * stable). Without the bound, one pack-materialize job per day at
  * shuffle-partitions granularity leaves a small-files swamp that every
  * later epoch pays listing+open costs for — the same rationale as
  * [[AnnIndex.append]]'s `numFiles`. Directory partitioning puts a hard
  * FLOOR of one file per non-empty bucket under the bound, so
  * `nBuckets > numFiles` would make the contract unsatisfiable — it is
  * rejected up front (before any filesystem mutation), not silently
  * degraded to an `nBuckets`-file layout.
  *
  * Rewrite atomicity: the OLD meta is deleted BEFORE `packs/` is
  * touched and the NEW meta is written last. Either order alone is
  * unsafe on a rewrite under a changed vocabulary — overwriting
  * `packs/` first while the old meta stays readable means a mid-rewrite
  * crash leaves a loadable pack set whose fingerprint describes the
  * PREVIOUS merges table (exactly the silent mismatch the fingerprint
  * exists to catch). With the tombstone order, every crash window
  * leaves either the intact old set or a meta-less directory that
  * [[loadPacks]] refuses to load.
  */
object Packs {

  /** A loaded pack set: the pack rows plus the packing parameters they
    * were built under.
    */
  final case class Loaded(
      packs: DataFrame,
      seqTokens: Long,
      nBuckets: Int,
      mergesFingerprint: String)

  /** Write a materialized pack frame
    * `(pack_bucket, pack_id, n_tokens, token_ids)` as a self-describing
    * sharded pack set at `path`.
    */
  def writePacks(
      packs: DataFrame,
      path: String,
      seqTokens: Long,
      nBuckets: Int,
      mergesFingerprint: String,
      numFiles: Int = 32): Unit = {
    require(seqTokens > 0, "seqTokens must be positive")
    require(nBuckets > 0, "nBuckets must be positive")
    require(numFiles > 0, "numFiles must be positive")
    require(nBuckets <= numFiles,
      s"numFiles=$numFiles cannot bound a pack set with nBuckets=" +
        s"$nBuckets: directory partitioning writes at least one file " +
        "per bucket — raise numFiles to >= nBuckets (or lower nBuckets)")
    val spark = packs.sparkSession
    // tombstone the old meta BEFORE the packs overwrite deletes old
    // data files: a crash anywhere after this point leaves no meta, so
    // loadPacks fails loudly instead of pairing stale meta (old
    // fingerprint/params) with partial or rewritten token ids
    Commit.tombstone(spark, s"$path/meta")
    val shards = math.max(1, numFiles / nBuckets)
    packs
      .withColumn("__shard", pmod(col("pack_id"), lit(shards.toLong)))
      // one shuffle keyed on (bucket, shard): each written file holds
      // whole shards, so the global file count is bounded by
      // nBuckets * shards ~ numFiles
      .repartition(col("pack_bucket"), col("__shard"))
      .sortWithinPartitions("pack_id")
      .drop("__shard")
      .write.mode("overwrite")
      .partitionBy("pack_bucket")
      .parquet(s"$path/packs")
    // meta is written LAST, as the commit marker: with the tombstone
    // above, a failure anywhere mid-write leaves NO meta — never a
    // fingerprint (old or new) paired with partial/stale token ids
    Commit.writeMeta(spark, s"$path/meta", Map("seq_tokens" -> seqTokens,
      "n_buckets" -> nBuckets, "merges_fingerprint" -> mergesFingerprint))
  }

  /** Load a pack set written by [[writePacks]]. `pack_bucket` comes
    * back from the partition directories (cast to its written LONG —
    * partition-column inference would otherwise narrow it to int and
    * silently change the schema downstream code joins on).
    */
  def loadPacks(spark: SparkSession, path: String): Loaded = {
    val meta = Commit.readMeta(spark, s"$path/meta")
    val packs = spark.read.parquet(s"$path/packs")
      .withColumn("pack_bucket", col("pack_bucket").cast("long"))
      .select("pack_bucket", "pack_id", "n_tokens", "token_ids")
    Loaded(packs, meta("seq_tokens").toLong, meta("n_buckets").toInt,
      meta("merges_fingerprint"))
  }
}
