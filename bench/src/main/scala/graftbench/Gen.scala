package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators. Everything here runs on the driver, single
  * threaded, and depends on the seed alone: the same seed gives the same
  * inputs, byte for byte.
  */
final class Rng(seed: Long) {
  private val r = new SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
  def chance(p: Double): Boolean = r.nextDouble() < p
  /** An exact dyadic value, so sums and means never depend on order. */
  def eighths(n: Int): Double = r.nextInt(n) / 8.0
  def shuffle[T](xs: Vector[T]): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }
}

object Digest {
  def of(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes("UTF-8"))
      md.update(0.toByte)
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}

// ---------------------------------------------------------------------------
// puffy_reshape: one puffy table
// ---------------------------------------------------------------------------

final case class NestedRow(name: String, score: Double, n: Int)

final case class PuffyRow(
    key: Long,
    a: Vector[Double],            // ragged 1-D, shares axis "t" with b and c
    b: Vector[Double],
    c: Vector[Int],
    m2: Vector[Vector[Double]],   // ragged 2-D
    mp: Vector[(String, Double)], // map cell, distinct sorted keys
    nt: Vector[NestedRow])        // nested table (array<struct>)

/** A puffy table and the row counts each reshape of it must produce. */
final case class PuffyData(rows: Vector[PuffyRow]) {
  val n: Long = rows.size.toLong
  val aRows: Long = rows.map(_.a.size.toLong).sum
  val m2Rows: Long = rows.map(_.m2.map(_.size.toLong).sum).sum
  val m2Cells: Long =
    rows.flatMap(r => r.m2.zipWithIndex.flatMap { case (v, i) => v.indices.map(j => (i, j)) })
      .distinct.size.toLong
  val ntRows: Long = rows.map(_.nt.size.toLong).sum
  val mpTimesA: Long = rows.map(r => r.mp.size.toLong * r.a.size).sum
  def digest: String = Digest.of(rows.iterator.map(_.toString))
}

object PuffyGen {
  /** Shape of the table: `n` keys; per key a ragged 1-D length in
    * [1, 12] shared by a/b/c, a 2-D cell of 1-4 rows of 1-3 values, a map
    * of 1-4 of 8 keys, and a nested table of 1-5 rows.
    */
  def apply(seed: Long, n: Int): PuffyData = {
    val rng = new Rng(seed)
    val mapKeys = (0 until 8).map(i => s"k$i").toVector
    val rows = Vector.tabulate(n) { k =>
      val len = rng.between(1, 12)
      PuffyRow(
        key = k.toLong,
        a = Vector.fill(len)(rng.eighths(8000)),
        b = Vector.fill(len)(rng.eighths(8000)),
        c = Vector.fill(len)(rng.int(100)),
        m2 = Vector.fill(rng.between(1, 4))(
          Vector.fill(rng.between(1, 3))(rng.eighths(800))),
        mp = rng.shuffle(mapKeys).take(rng.between(1, 4)).sorted
          .map(mk => mk -> rng.eighths(800)),
        nt = Vector.fill(rng.between(1, 5))(
          NestedRow(s"n${rng.int(50)}", rng.eighths(800), rng.int(100))))
    }
    PuffyData(rows)
  }
}

// ---------------------------------------------------------------------------
// Text corpora (curate_corpus and index_lifecycle)
// ---------------------------------------------------------------------------

final case class Doc(id: Long, text: String)

final class Words(rng: Rng, vocabSize: Int) {
  private val letters = "abcdefghijklmnopqrstuvwxyz"
  val vocab: Vector[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < vocabSize)
      seen += Vector.fill(rng.between(3, 9))(letters(rng.int(26))).mkString
    seen.toVector
  }
  /** Zipf-like skew: low vocabulary indices are drawn more often. */
  def word(): String = {
    val u = rng.int(1 << 20) / (1 << 20).toDouble
    vocab((math.pow(u, 1.6) * vocab.size).toInt)
  }
  def body(lo: Int, hi: Int): String =
    Vector.fill(rng.between(lo, hi))(word()).mkString(" ")
  /** Replace exactly one token by a different vocabulary word. */
  def mutateOne(text: String): String = {
    val ws = text.split(" ")
    val i = rng.int(ws.length)
    var w = word()
    while (w == ws(i)) w = word()
    ws(i) = w
    ws.mkString(" ")
  }
}

/** The curate_corpus input, with the ids of every planted case. */
final case class Corpus(
    docs: Vector[Doc],
    probe: Vector[Doc],
    exactGroups: Vector[Vector[Long]], // original id first, then its copy
    nearCopies: Vector[Long],
    contaminated: Vector[Long],
    tooShort: Vector[Long]) {
  def exactCopies: Vector[Long] = exactGroups.flatMap(_.tail)
  def digest: String =
    Digest.of((docs ++ probe).iterator.map(d => s"${d.id}\t${d.text}"))
}

/** Document shape and planted rates shared by both text corpora. Each
  * rate is taken from the repository's own data or generators; NOTES.md
  * ("Where the rates come from") names the source of each.
  */
object TextShape {
  /** Words per body. Quartiles 36/56/76, near the test corpus's 32/54/76;
    * 16 words of at least 3 letters clear the 60-char length gate.
    */
  val MinWords = 16
  val MaxWords = 96
  /** Fresh documents, verbatim copies and one-token edits in equal
    * thirds, as `graft.Stress`'s `dedup_index_10x` plants its batch.
    */
  val CopyShare = 1.0 / 3
  val NearShare = 1.0 / 3
}

object CorpusGen {
  /** Every 97th document, as the probe of `graft.Stress`'s `curate_full`. */
  val ContaminatedRate = 1.0 / 97
  /** The test corpus's share of documents under the 60-char gate. */
  val TooShortRate = 0.0174
  /** One boilerplate line on 10% of documents, as `graft.Stress`'s
    * `dedup_lines_hotline`.
    */
  val BoilerplateRate = 0.10

  def apply(seed: Long, n: Int): Corpus = {
    import TextShape._
    val rng = new Rng(seed)
    val w = new Words(rng, 4000)
    val boiler = w.body(6, 10)
    def withBoiler(body: String): String =
      if (rng.chance(BoilerplateRate)) body + "\n" + boiler else body
    val nCont = math.round(n * ContaminatedRate).toInt
    val nShort = math.round(n * TooShortRate).toInt
    val nRest = n - nCont - nShort
    val nExact = (nRest * CopyShare).toInt
    val nNear = (nRest * NearShare).toInt
    val nBase = nRest - nExact - nNear
    var nextId = 0L
    def id(): Long = { val i = nextId; nextId += 1; i }
    // base documents get the lowest ids: each is the earliest of its
    // exact group and of its near copy
    val base = Vector.fill(nBase)(Doc(id(), withBoiler(w.body(MinWords, MaxWords))))
    val exactGroups = base.take(nExact).map(o => Vector(o, Doc(id(), o.text)))
    val near = base.take(nNear).map(o => Doc(id(), w.mutateOne(o.text.split("\n")(0))))
    val probe = Vector.tabulate(nCont)(i => Doc(10000000L + i, w.body(MinWords, MaxWords)))
    val contaminated = probe.map(p => Doc(id(), p.text))
    val tooShort = Vector.fill(nShort)(Doc(id(), w.body(2, 4)))
    val docs = rng.shuffle(base ++ exactGroups.map(_(1)) ++ near ++
      contaminated ++ tooShort)
    Corpus(docs, probe, exactGroups.map(_.map(_.id)), near.map(_.id),
      contaminated.map(_.id), tooShort.map(_.id))
  }
}

/** The index_lifecycle input: a base corpus, `k` ingest batches (one file
  * each), a probe batch for `dedupBatch` and a query set for `score`.
  */
final case class Lifecycle(
    base: Vector[Doc],
    batches: Vector[Vector[Doc]],
    probeDocs: Vector[Doc],
    queries: Vector[(Long, String)]) {
  def indexedDocs: Long = base.size.toLong + batches.map(_.size.toLong).sum
  def textBytes: Long =
    (base ++ batches.flatten).map(_.text.getBytes("UTF-8").length.toLong).sum
  def digest: String = Digest.of(
    (base.iterator ++ batches.iterator.zipWithIndex.flatMap { case (b, i) =>
      Iterator(Doc(-1L - i, "")) ++ b.iterator } ++ probeDocs.iterator)
      .map(d => s"${d.id}\t${d.text}") ++
      queries.iterator.map { case (q, t) => s"q$q\t$t" })
}

object LifecycleGen {
  def apply(seed: Long, nBase: Int, k: Int, batchSize: Int, nProbe: Int,
      nQueries: Int): Lifecycle = {
    import TextShape._
    val rng = new Rng(seed)
    val w = new Words(rng, 4000)
    var nextId = 0L
    def nid(offset: Long): Long = { nextId += 1; offset + nextId }
    def fresh(offset: Long): Doc = Doc(nid(offset), w.body(MinWords, MaxWords))
    val base = Vector.fill(nBase)(fresh(0L))
    // fresh documents, verbatim copies and one-token edits of already
    // indexed documents, in the shares of TextShape
    def mixed(offset: Long, size: Int, seen: Vector[Doc]): Vector[Doc] = {
      val nExact = (size * CopyShare).toInt
      val nNear = (size * NearShare).toInt
      val fresh0 = Vector.fill(size - nExact - nNear)(fresh(offset))
      val exact = Vector.fill(nExact)(
        Doc(nid(offset), seen(rng.int(seen.size)).text))
      val nearD = Vector.fill(nNear)(
        Doc(nid(offset), w.mutateOne(seen(rng.int(seen.size)).text)))
      rng.shuffle(fresh0 ++ exact ++ nearD)
    }
    val batches = (0 until k).foldLeft(Vector.empty[Vector[Doc]]) { (acc, b) =>
      acc :+ mixed(1000000L * (b + 1), batchSize, base ++ acc.flatten)
    }
    val probeDocs = mixed(900000000L, nProbe, base ++ batches.flatten)
    val all = base ++ batches.flatten
    val queries = Vector.tabulate(nQueries) { q =>
      val ws = all(rng.int(all.size)).text.split(" ")
      val from = rng.int(math.max(1, ws.length - 4))
      q.toLong -> (ws.slice(from, from + 3) :+ w.word()).mkString(" ")
    }
    Lifecycle(base, batches, probeDocs, queries)
  }
}
