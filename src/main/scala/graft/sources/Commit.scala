package graft.sources

import java.io.{InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The artifact-commit protocol of the persisted stores ([[DedupIndex]],
  * [[RetrievalIndex]], [[AnnIndex]], [[DeconIndex]], [[Packs]],
  * [[Release]]): each store names WHAT it commits, this object decides
  * HOW. The rules, one implementation each:
  *
  *  - marker-guarded once ([[once]]): a directory marker written after
  *    the body makes a replayed call a no-op;
  *  - meta ([[writeMeta]] / [[readMeta]]): a store's parameters as one
  *    small properties file, written and read on the driver with no
  *    Spark job — the only code that knows the meta format;
  *  - artifact schemas ([[schemaEntry]] / [[open]]): each artifact's
  *    `StructType` JSON rides in its store's meta from the write that
  *    made it, and the artifact is opened with that schema, so opening
  *    a store directory runs no schema-inference job;
  *  - meta tombstone ([[tombstone]]): meta is deleted before an
  *    artifact is touched and written last, so a crash in between
  *    leaves a store its loader refuses loudly instead of pairing stale
  *    parameters with new data;
  *  - staged swap ([[swapCompacted]]): rewrites land in side
  *    directories, then swap in under the meta tombstone;
  *  - layout-clean sentinel ([[markClean]] / [[unmarkClean]] /
  *    [[isClean]]): lets compaction skip an untouched artifact;
  *  - overlapped independent writes ([[runAll]]).
  *
  * [[EpochStore]]'s versioned-epoch lifecycle (every crash window
  * loadable) commits its meta through [[writeMeta]] and [[readMeta]]
  * but keeps its own commit order, as does [[Tables.compactZOrdered]]'s
  * roll-forward swap: their crash contracts differ.
  */
private[graft] object Commit {

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  def mkdirs(spark: SparkSession, path: String): Unit =
    fs(spark, path).mkdirs(new Path(path))

  /** Run `body` unless `marker` exists, then create `marker`. A crash
    * inside `body` leaves no marker, so the replay runs it again: the
    * body must converge under re-execution.
    */
  def once(spark: SparkSession, marker: String)(body: => Unit): Unit =
    if (!exists(spark, marker)) {
      body
      mkdirs(spark, marker)
    }

  /** Delete each listed directory (recursively; absent ones are fine). */
  def tombstone(spark: SparkSession, dirs: String*): Unit =
    dirs.foreach(d => fs(spark, d).delete(new Path(d), true))

  /** Commit a store's parameters as its meta: one small
    * `java.util.Properties` file at `dir` (each value by `toString`),
    * written to a temp file beside `dir`, then swapped in by delete +
    * rename, so a reader sees the old meta, no meta, or the new one —
    * never a partial file. A temp file left by an interrupted write is
    * overwritten. Driver-side file I/O only: no Spark job.
    */
  def writeMeta(
      spark: SparkSession, dir: String, fields: Map[String, Any]): Unit = {
    val props = new java.util.Properties
    fields.foreach { case (k, v) => props.setProperty(k, v.toString) }
    val f = fs(spark, dir)
    val tmp = new Path(s"$dir.tmp")
    val out = new OutputStreamWriter(f.create(tmp, true), UTF_8)
    try props.store(out, null) finally out.close()
    f.delete(new Path(dir), true)
    if (!f.rename(tmp, new Path(dir)))
      throw new java.io.IOException(s"meta rename failed for $dir")
  }

  /** The committed meta of a store, as written by [[writeMeta]]; values
    * parse back with `toInt`, `toLong`, `toDouble`, `toBoolean`. A
    * missing meta (tombstoned mid-commit, or never committed), an
    * unreadable one, or a missing key fails loudly naming `dir`. One
    * `FileSystem.open`, no Spark job.
    */
  def readMeta(spark: SparkSession, dir: String): Map[String, String] = {
    val props = new java.util.Properties
    try {
      val in = new InputStreamReader(fs(spark, dir).open(new Path(dir)),
        UTF_8)
      try props.load(in) finally in.close()
    } catch {
      case e @ (_: java.io.IOException | _: IllegalArgumentException) =>
        throw new IllegalStateException(s"no readable meta at $dir", e)
    }
    props.asScala.toMap.withDefault(k =>
      throw new NoSuchElementException(s"meta at $dir has no $k"))
  }

  /** The meta entry that records `df`'s schema as artifact `name`'s:
    * the caller adds it to the meta it commits when `df` is written.
    * (A file read makes every field nullable, as inference would.)
    */
  def schemaEntry(name: String, df: DataFrame): (String, String) =
    s"schema.$name" -> df.schema.json

  /** Artifact `name` at `dir`, opened with the schema its store's meta
    * `meta` recorded by [[schemaEntry]]: no schema-inference job. A
    * meta without that entry fails loudly naming the meta's path; there
    * is no fallback to inference.
    */
  def open(
      spark: SparkSession,
      meta: Map[String, String],
      name: String,
      dir: String): DataFrame =
    spark.read
      .schema(DataType.fromJson(meta(s"schema.$name")).asInstanceOf[StructType])
      .parquet(dir)

  // -------------------------------------------------------------------
  // Layout-clean sentinel (`_layout_clean_<family>/` under the store
  // path): present iff that family's artifacts are exactly as the last
  // build/compact left them — folded rows at the build file layout.
  // Every absorb DELETES it before its first append file lands;
  // build/compact (re)create it LAST. compact() then skips the full
  // artifact rewrite of an untouched index (guide §6: don't rewrite
  // unchanged data — a scheduled compaction over an index that saw no
  // appends since the last build/compact would otherwise pay a
  // corpus-scale rewrite to reproduce the bytes already on disk). The
  // sentinel is advisory-for-speed only: its ABSENCE (legacy index,
  // crashed build) costs one full — harmless — compaction, never
  // correctness; a crash between an absorb's delete and its first file
  // likewise only forfeits the skip. Family-scoped so co-located
  // artifact families can never claim cleanliness for each other.
  // -------------------------------------------------------------------
  private def cleanPath(path: String, family: String) =
    s"$path/_layout_clean_$family"
  def markClean(spark: SparkSession, path: String, family: String): Unit =
    mkdirs(spark, cleanPath(path, family))
  def unmarkClean(spark: SparkSession, path: String, family: String): Unit =
    tombstone(spark, cleanPath(path, family))
  def isClean(spark: SparkSession, path: String, family: String): Boolean =
    exists(spark, cleanPath(path, family))

  /** Run independent artifact-staging actions CONCURRENTLY (guide
    * §2.6 overlap independent jobs): Spark's scheduler happily runs
    * several jobs at once inside one application, so two independent
    * artifact rewrites overlap — the second job's tasks back-fill the
    * executor slots the first job's stage tail leaves idle — instead
    * of paying both jobs' tails back to back. Single-task lists run
    * inline. Every task runs to completion before the first failure
    * (in task order) is rethrown, so a caller's retry never races a
    * sibling writer still landing files.
    */
  def runAll(tasks: Seq[() => Unit]): Unit =
    if (tasks.lengthCompare(2) < 0) tasks.foreach(_.apply())
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      import scala.util.{Failure, Success}
      implicit val ec: ExecutionContext = ExecutionContext.global
      val outcomes = Await.result(
        Future.traverse(tasks)(t => Future(t.apply()).transform(Success(_))),
        Duration.Inf)
      outcomes.collectFirst { case Failure(e) => throw e }
    }

  /** Stage compacted artifacts and swap them in under the tombstone
    * discipline: each `(dir, frame)` in `staged` is written to a
    * `<dir>.compact` side directory first, the meta is deleted (the
    * store is briefly unloadable, never wrong), the directories swap,
    * the `folded` delta directories (rows the staged frames absorbed)
    * are deleted, and `meta` is written LAST — a crash at any point
    * leaves either the old store, or a tombstoned one that its loader
    * refuses loudly. `meta` is built by the caller BEFORE this runs,
    * from the meta it read; the schema of each staged artifact is
    * recorded in it under the artifact's directory name
    * ([[schemaEntry]]).
    */
  def swapCompacted(
      spark: SparkSession,
      path: String,
      staged: Seq[(String, DataFrame)],
      metaDir: String,
      meta: Map[String, Any],
      folded: Seq[String] = Nil): Unit = {
    // 1. stage every compacted artifact (reads old dirs, writes side
    //    dirs — no overlap between a scan and the directory it scans).
    //    The staged artifacts are INDEPENDENT, so their rewrite jobs run
    //    concurrently (guide §2.6): each one's stage tail back-fills the
    //    others' idle slots instead of the jobs queuing back to back
    runAll(staged.map { case (dir, df) => () => {
      tombstone(spark, s"$path/$dir.compact")
      df.write.mode("overwrite").parquet(s"$path/$dir.compact")
    }})
    // 2. tombstone the meta: from here to step 4 the store is
    //    unloadable (readMeta fails on a missing meta)
    tombstone(spark, metaDir)
    // 3. swap, then drop what the swapped-in artifacts folded
    staged.foreach { case (dir, _) =>
      tombstone(spark, s"$path/$dir")
      if (!fs(spark, path).rename(
          new Path(s"$path/$dir.compact"), new Path(s"$path/$dir")))
        throw new IllegalStateException(
          s"compaction swap failed for $path/$dir")
    }
    tombstone(spark, folded: _*)
    // 4. meta last
    writeMeta(spark, metaDir,
      meta ++ staged.map { case (dir, df) => schemaEntry(dir, df) })
  }
}
