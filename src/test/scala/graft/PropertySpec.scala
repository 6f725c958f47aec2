package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.FrameEngine

/** Property tests from the SURVEY §5 plan: explosion row-count laws,
  * toPuffy∘toLong round-trip, shared-axis alignment counts. Uses raw
  * ScalaCheck generators with a fixed seed (deterministic, no
  * scalatestplus bridge needed offline).
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val rowGen: Gen[(List[Long], List[String])] = for {
    na <- Gen.choose(0, 4)
    a <- Gen.listOfN(na, Gen.choose(-100L, 100L))
    nb <- Gen.choose(0, 3)
    b <- Gen.listOfN(nb, Gen.alphaStr.map(s => s.take(4)))
  } yield (a, b)

  private def sampleTables(n: Int): Seq[List[(Long, List[Long], List[String])]] =
    (1 to n).map { i =>
      val seed = rng.Seed(i.toLong)
      val nRows = 1 + (i % 7)
      (0 until nRows).toList.map { r =>
        val (a, b) = rowGen.pureApply(Gen.Parameters.default, seed.slide.reseed(r))
        (r.toLong, a, b)
      }
    }

  test("BPE laws on random unicode + random merge tables: counts total," +
      " chunk tokens sum to the count, overlap-0 chunks reassemble") {
    import graft.functions.Bpe
    import graft.operators.TextAnalysis
    val rnd = new scala.util.Random(1234)
    def randText(): String = {
      val n = rnd.nextInt(60)
      (0 until n).map { _ =>
        rnd.nextInt(5) match {
          case 0 => ('a' + rnd.nextInt(4)).toChar.toString
          case 1 => " "
          case 2 => ('0' + rnd.nextInt(3)).toChar.toString
          case 3 => "é日'" .charAt(rnd.nextInt(3)).toString
          case _ => ",.!" .charAt(rnd.nextInt(3)).toString
        }
      }.mkString
    }
    def randMerges(): Seq[(String, String)] = {
      val letters = Seq("a", "b", "c", "d")
      val base = (0 until 1 + rnd.nextInt(4)).map(_ =>
        (letters(rnd.nextInt(4)), letters(rnd.nextInt(4))))
      // chain a second-level merge so multi-byte symbols occur
      base ++ base.headOption.map { case (l, r) =>
        (l + r, letters(rnd.nextInt(4)))
      }
    }
    val texts = (0 until 120).map(i => (i.toLong, randText()))
    val merges = randMerges()
    val df = texts.toDF("doc_id", "text")
    val counts = TextAnalysis.tokenCountsBpe(df, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // count is bounded by byte length and positive iff text non-empty
    texts.foreach { case (id, t) =>
      val bl = t.getBytes("UTF-8").length
      assert(counts(id) <= bl)
      assert((counts(id) == 0) === t.isEmpty)
    }
    val chunks = TextAnalysis.chunkByTokensBpe(df, "doc_id", "text",
      chunkTokens = 5, overlap = 0, merges = merges)
      .collect().groupBy(_.getLong(0))
    texts.foreach { case (id, t) =>
      val cs = chunks(id).sortBy(_.getInt(1))
      // chunk token counts sum to the doc's token count
      assert(cs.map(_.getInt(2).toLong).sum === counts(id))
      // overlap-0 chunk texts reassemble to the original text exactly
      assert(cs.map(_.getString(3)).mkString === t)
    }
  }

  /** Exposes both BpeWalk walks for the equivalence test: the indexed
    * heap walk (the production path) and the literal round-based
    * published algorithm.
    */
  private class WalkProbe(val merges: Seq[(String, String)])
      extends graft.functions.BpeWalk {
    private def run(s: String, f: (String,
        scala.collection.mutable.ArrayBuffer[Int]) => Unit): Seq[Int] = {
      val out = new scala.collection.mutable.ArrayBuffer[Int]
      val m = piecePattern.matcher(s)
      while (m.find()) f(m.group(), out)
      out.toSeq
    }
    def indexed(s: String): Seq[Int] = run(s, pieceTokenLens)
    def naive(s: String): Seq[Int] = run(s, pieceTokenLensNaive)
  }

  /** Learn a merge table from `text` by the published BPE procedure
    * (count adjacent symbol pairs, merge the most frequent — ties by
    * pair order for determinism — repeat). Learned tables are MONOTONE
    * (a pair using a merged symbol always ranks after the merge that
    * created it), the class for which the indexed and round-based walks
    * provably agree.
    */
  private def learnMerges(text: String, k: Int): Seq[(String, String)] = {
    var syms = text.getBytes("UTF-8").map(b =>
      new String(Array(b), "ISO-8859-1")).toVector
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var i = 0
    while (i < k && syms.length > 1) {
      val counts = syms.zip(syms.tail).groupBy(identity)
        .map { case (p, v) => p -> v.length }
      val (best, c) = counts.maxBy { case ((l, r), n) => (n, l, r) }
      if (c < 2) i = k
      else {
        out += best
        val merged = best._1 + best._2
        val b = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == best._1 && syms(j + 1) == best._2) {
            b += merged; j += 2
          } else { b += syms(j); j += 1 }
        }
        syms = b.result()
        i += 1
      }
    }
    out.toSeq
  }

  test("BPE indexed walk ≡ naive round-based walk: token lens identical" +
      " on random unicode under learned merge tables") {
    val rnd = new scala.util.Random(77)
    val alphabet = "abcd 日本語éß012,.'!\t"
    def randText(n: Int): String =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    (0 until 40).foreach { trial =>
      val corpus = randText(300 + rnd.nextInt(300))
      val merges = learnMerges(corpus, 5 + rnd.nextInt(40))
      val probe = new WalkProbe(merges)
      (0 until 10).foreach { _ =>
        val s = randText(rnd.nextInt(400))
        val a = probe.indexed(s)
        val b = probe.naive(s)
        assert(a === b, s"trial=$trial merges=$merges text=${s.take(80)}")
      }
      // the fixture vocabulary too, on the same texts
      val fp = new WalkProbe(graft.functions.Bpe.fixtureMerges)
      val s = randText(rnd.nextInt(400))
      assert(fp.indexed(s) === fp.naive(s))
    }
  }

  test("BPE token ids are lossless: expanding each id through the merge" +
      " table reconstructs the original UTF-8 bytes exactly") {
    import graft.operators.TextAnalysis
    val rnd = new scala.util.Random(21)
    val alphabet = "abcd 日本語é,1"
    def randText(n: Int): String =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    (0 until 10).foreach { _ =>
      val merges = learnMerges(randText(400), 5 + rnd.nextInt(40))
      // id -> raw byte string: ids 0-255 are bytes, 256+r expands to
      // merges(r) left+right (both already raw byte strings)
      val symbols = scala.collection.mutable.ArrayBuffer.tabulate(256)(b =>
        new String(Array(b.toByte), "ISO-8859-1"))
      merges.foreach { case (l, r) => symbols += (l + r) }
      val texts = (0L until 20L).map(i => (i, randText(rnd.nextInt(200))))
      val byId = texts.toMap
      TextAnalysis.tokenIdsBpe(texts.toDF("doc_id", "text"),
        "doc_id", "text", merges).collect().foreach { row =>
        val rebuilt = row.getSeq[Int](1).map(symbols).mkString
        val expected = new String(
          byId(row.getLong(0)).getBytes("UTF-8"), "ISO-8859-1")
        assert(rebuilt === expected)
      }
    }
  }

  test("bpeTokenRemove with empty or null starts reproduces the" +
      " original bytes exactly over random unicode and learned tables") {
    import graft.functions.TextFunctions
    val rnd = new scala.util.Random(23)
    val alphabet = "abcd 日本語é,1"
    def randText(n: Int): String =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    (0 until 5).foreach { _ =>
      val merges = learnMerges(randText(400), 5 + rnd.nextInt(40))
      val texts = (0L until 20L).map(i => (i, randText(rnd.nextInt(200))))
      val byId = texts.toMap
      // no removed grams in either encoding (null array and empty
      // array) must be a byte-exact identity rewrite
      Seq(lit(null).cast("array<int>"),
        array().cast("array<int>")).foreach { starts =>
        texts.toDF("doc_id", "text")
          .select(col("doc_id"), TextFunctions.bpeTokenRemove(
            TextFunctions.bpeTokenIds(col("text"), merges),
            starts, 2, merges).as("r"))
          .select(col("doc_id"), col("r.text_kept"),
            col("r.n_tokens_dropped"))
          .collect().foreach { row =>
            assert(row.getString(1) === byId(row.getLong(0)))
            assert(row.getLong(2) === 0L)
          }
      }
    }
  }

  test("BPE indexed walk: a 1 MB unsegmented (no-whitespace, CJK-like)" +
      " document with a 1k-rank merge table tokenizes in bounded time") {
    val rnd = new scala.util.Random(99)
    // 16 distinct CJK chars; a repeated 1k-char motif (boilerplate-like,
    // pair-rich — deep merge chains stay frequent) plus a random tail;
    // 350k chars ≈ 1.05 MB UTF-8, ONE pre-tokenizer piece (no whitespace)
    val chars = (0 until 16).map(i => (0x4e00 + i * 37).toChar)
    val motif = (0 until 1024).map(_ => chars(rnd.nextInt(chars.length))).mkString
    val tail = (0 until 43000).map(_ => chars(rnd.nextInt(chars.length))).mkString
    val doc = motif * 300 + tail
    assert(doc.getBytes("UTF-8").length >= 1000000)
    // a maximum-depth MONOTONE chain table along the motif: rank i
    // merges (motif[0..i], motif[i]) — every motif copy collapses byte
    // by byte through 1500 sequential ranks, the deepest possible merge
    // cascade per piece (harder on the walk than a learned table, where
    // merges fan out shallowly)
    val mb = motif.getBytes("UTF-8").map(b => new String(Array(b), "ISO-8859-1"))
    val merges = {
      val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val acc = new StringBuilder(mb(0))
      var j = 1
      while (j < mb.length && out.length < 1500) {
        out += (acc.toString -> mb(j)); acc.append(mb(j)); j += 1
      }
      out.toSeq
    }
    assert(merges.length >= 1000, s"built only ${merges.length} ranks")
    val probe = new WalkProbe(merges)
    val t0 = System.nanoTime()
    val lens = probe.indexed(doc)
    val sec = (System.nanoTime() - t0) / 1e9
    // the O(n²) walk would need ~10¹² comparisons here (hours); the
    // indexed walk is n log n — generous bound absorbs host-load swings
    assert(sec < 60.0, f"indexed walk took $sec%.1f s on 1 MB unsegmented doc")
    assert(lens.sum === doc.getBytes("UTF-8").length)
    assert(lens.length < doc.getBytes("UTF-8").length)
    info(f"1 MB unsegmented doc: ${lens.length} tokens in $sec%.2f s")
  }

  test("dedupSubstrings ≡ brute-force reference on random corpora with" +
      " planted cross-doc spans (first-occurrence keep, positional" +
      " coverage, reassembly)") {
    import graft.operators.Dedup
    import scala.collection.mutable
    def brute(docs: Seq[(Long, String)], k: Int)
        : Map[Long, (String, Long, Long)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toSeq }
      val grams = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Long, Int)]]
      toks.foreach { case (id, ws) =>
        (0 to ws.length - k).foreach { p =>
          grams.getOrElseUpdate(ws.slice(p, p + k).mkString(" "),
            mutable.ArrayBuffer.empty) += (id -> p)
        }
      }
      val covered = mutable.Set.empty[(Long, Int)]
      grams.values.filter(_.length >= 2).foreach { occs =>
        val first = occs.minBy(identity)
        occs.filter(_ != first).foreach { case (id, p) =>
          (p until p + k).foreach(i => covered += (id -> i)) }
      }
      toks.map { case (id, ws) =>
        val kept = ws.zipWithIndex.collect {
          case (w, i) if !covered((id, i)) => w }
        id -> ((kept.mkString(" "), kept.length.toLong,
          (ws.length - kept.length).toLong))
      }.toMap
    }
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("red", "blue", "oak", "elm", "fox", "owl", "sun",
      "sky", "ash", "ivy")
    (0 until 25).foreach { trial =>
      val span = (0 until 6).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
      val docs = (0L until 10L).map { id =>
        val words = (0 until rnd.nextInt(30)).map(_ =>
          vocab(rnd.nextInt(vocab.length)))
        // plant the shared span into some docs at a random position
        val t =
          if (rnd.nextBoolean()) {
            val cut = if (words.isEmpty) 0 else rnd.nextInt(words.length)
            (words.take(cut) ++ span.split(" ") ++ words.drop(cut))
              .mkString(" ")
          } else words.mkString(" ")
        (id, t)
      }
      val k = 3 + rnd.nextInt(3)
      val expected = brute(docs, k)
      val got = Dedup.dedupSubstrings(docs.toDF("doc_id", "text"),
          "doc_id", "text", spanWords = k)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got === expected, s"trial=$trial k=$k docs=$docs")
    }
  }

  test("byte shingles: count/containment laws over random payloads — " +
      "distinct n-windows, whole-payload fallback, prefix monotonicity") {
    import graft.functions.ByteShinglesExpr
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    def sh(a: Array[Byte], n: Int): Set[String] =
      ByteShinglesExpr(Literal(a), n).eval(null).asInstanceOf[ArrayData]
        .toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString).toSet
    val rnd = new scala.util.Random(31)
    (0 until 200).foreach { _ =>
      val len = rnd.nextInt(60)
      val a = new Array[Byte](len); rnd.nextBytes(a)
      val n = 1 + rnd.nextInt(12)
      val s = sh(a, n)
      if (len >= n) {
        // at most len-n+1 windows, each exactly 2n hex chars, all
        // present as literal substrings of the payload's hex encoding
        assert(s.size <= len - n + 1 && s.nonEmpty)
        val hex = a.map(b => f"${b & 0xff}%02x").mkString
        assert(s.forall(x => x.length == 2 * n && hex.contains(x)))
      } else {
        assert(s.size === 1) // whole-payload fallback
      }
      // alignment-freeness: any prefix only ADDS windows of the
      // combined payload — every original window survives
      val pre = new Array[Byte](rnd.nextInt(5)); rnd.nextBytes(pre)
      if (len >= n) assert(s.subsetOf(sh(pre ++ a, n)))
    }
  }

  test("dHash: total on arbitrary bytes; value invariant under constant" +
      " gray offset on random images") {
    import graft.functions.DHash
    val rnd = new scala.util.Random(37)
    def bmp(w: Int, h: Int, gv: (Int, Int) => Int): Array[Byte] = {
      def le(v: Long, n: Int) =
        Array.tabulate(n)(i => ((v >> (8 * i)) & 0xff).toByte)
      val stride = ((w * 3 + 3) / 4) * 4
      val hdr = "BM".getBytes ++ le(54L + stride * h, 4) ++ le(0, 4) ++
        le(54, 4) ++ le(40, 4) ++ le(w, 4) ++ le(h, 4) ++ le(1, 2) ++
        le(24, 2) ++ le(0, 4) ++ le(stride.toLong * h, 4) ++ le(0, 16)
      val px = (0 until h).flatMap { r =>
        val y = h - 1 - r
        (0 until w).flatMap { x =>
          val v = (gv(x, y) & 0xff).toByte; Seq(v, v, v)
        } ++ Seq.fill(stride - w * 3)(0.toByte)
      }
      hdr ++ px
    }
    (0 until 50).foreach { i =>
      val w = 9 + rnd.nextInt(24); val h = 8 + rnd.nextInt(24)
      val base = Array.fill(w * h)(rnd.nextInt(180))
      def g(x: Int, y: Int) = base(y * w + x)
      val h1 = graft.functions.DHash.dhash(bmp(w, h, g))
      val h2 = graft.functions.DHash.dhash(bmp(w, h, (x, y) => g(x, y) + 60))
      assert(h1 !== null)
      assert(h1.longValue === h2.longValue,
        s"constant offset changed dHash at $w x $h (iter $i)")
    }
    (0 until 300).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(100)); rnd.nextBytes(b)
      DHash.dhash(b) // total
    }
  }

  test("toLong row count: |a|x|b| per key when both sides explode, " +
       "else the surviving side (full-outer merge semantics)") {
    sampleTables(15).foreach { rows =>
      val df = rows.toDF("k", "a", "b")
      val out = FrameEngine(df, Seq("k")).toLong()
      val expected = rows.map { case (_, a, b) =>
        if (a.nonEmpty && b.nonEmpty) a.size.toLong * b.size
        else a.size.toLong + b.size // outer merge keeps the non-empty side
      }.sum
      assert(out.count() === expected, s"rows=$rows")
    }
  }

  test("per-row merge ≡ full-outer fold keyed on (k, row id) on random frames" +
      " (shared axes, map x array, nested tables, null cells and keys, dup keys)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.Join
    type Row = (Option[Long], Option[List[Option[Long]]], Option[List[Long]],
      List[String], Option[Map[String, Long]], Option[Map[String, Long]],
      Option[List[(Long, Double)]], Option[(Long, Double)], Option[Double])
    val mapGen = Gen.choose(0, 2).flatMap(nm => Gen.option(Gen.listOfN(nm,
      Gen.zip(Gen.oneOf("x", "y", "z"), Gen.choose(0L, 9L))).map(_.toMap)))
    val gen: Gen[Row] = for {
      k <- Gen.option(Gen.choose(0L, 3L)) // few keys => duplicate keys
      na <- Gen.choose(0, 3)
      a <- Gen.option(Gen.listOfN(na, Gen.option(Gen.choose(-9L, 9L))))
      nb <- Gen.choose(0, 2); b <- Gen.option(Gen.listOfN(nb, Gen.choose(-9L, 9L)))
      nc <- Gen.choose(0, 2); c <- Gen.listOfN(nc, Gen.alphaStr.map(_.take(3)))
      m <- mapGen; p <- mapGen
      nn <- Gen.choose(0, 2)
      n <- Gen.option(Gen.listOfN(nn, Gen.zip(Gen.choose(0L, 9L),
        Gen.choose(0, 9).map(_.toDouble))))
      st <- Gen.option(Gen.zip(Gen.choose(0L, 9L), Gen.choose(0, 9).map(_.toDouble)))
      x <- Gen.option(Gen.oneOf(1.5, -2.0, Double.NaN))
    } yield (k, a, b, c, m, p, n, st, x)
    val t = "t"
    // (columns, sharedAxes): k = 2 and 3, shared axes on all columns and on
    // a subset, map x array, maps on a shared string axis, a nested table,
    // a struct melt, a scalar (NaN is na.drop'ped)
    val cases: Seq[(Seq[String], Map[String, Map[String, Int]])] = Seq(
      (Seq("a", "b", "c"), Map.empty),
      (Seq("a", "b"), Map(t -> Map("a" -> 0, "b" -> 0))),
      (Seq("a", "b", "c"), Map(t -> Map("a" -> 0, "b" -> 0, "c" -> 0))),
      (Seq("a", "b", "c"), Map(t -> Map("a" -> 0, "c" -> 0))),
      (Seq("m", "a"), Map.empty),
      (Seq("m", "p"), Map(t -> Map("m" -> 0, "p" -> 0))),
      (Seq("st", "x", "a"), Map.empty),
      (Seq("n", "b", "c"), Map.empty),
      (Seq("a", "n"), Map(t -> Map("a" -> 0, "n" -> 0))))
    (1 to 4).foreach { i =>
      val seed = rng.Seed(1000L + i)
      val rows = (0 until (2 + i % 5)).toList.map(r =>
        gen.pureApply(Gen.Parameters.default, seed.slide.reseed(r)))
      val withId = rows.zipWithIndex.map { case ((k, a, b, c, m, p, n, st, x), r) =>
        (k, r.toLong, a, b, c, m, p, n, st, x)
      }.toDF("k", "rid", "a", "b", "c", "m", "p", "n", "st", "x")
      val df = withId.drop("rid")
      for ((cols, shared) <- cases; dropna <- Seq(true, false)) {
        val out = FrameEngine(df, Seq("k"))
          .toLong(cols, dropna = dropna, sharedAxes = shared)
        // expected: the chained full-outer fold of the one-column melts,
        // keyed on (k, row id) — for unique keys, the fold keyed on k
        val eng = FrameEngine(withId, Seq("k", "rid"))
        val expected = cols.map(cn =>
          eng.toLong(Seq(cn), dropna = dropna, sharedAxes = shared))
          .reduce((acc: DataFrame, nxt: DataFrame) =>
            acc.join(nxt, acc.columns.toSeq.intersect(nxt.columns.toSeq), "full_outer"))
          .drop("rid")
        val what = s"cols=$cols shared=$shared dropna=$dropna rows=$rows"
        assert(out.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty, what)
        assert(out.schema === expected.schema, what)
        // as text: NaN never equals itself
        val got = out.collect().map(_.toSeq.toString).sorted
        val want = expected.collect().map(_.toSeq.toString).sorted
        assert(got === want, what)
      }
    }
  }

  test("asofJoin ≡ naive join+rank; rangeJoin ≡ naive inequality join" +
      " (random keys/times/intervals)") {
    import graft.operators.{AsofJoin, RangeJoin}
    val leftGen: Gen[(Long, Long, Long)] = for {
      k <- Gen.choose(0L, 3L); t <- Gen.choose(0L, 50L); id <- Gen.choose(0L, 999L)
    } yield (k, t, id)
    val rightGen: Gen[(Long, Long, Double)] = for {
      k <- Gen.choose(0L, 3L); t <- Gen.choose(0L, 50L)
      v <- Gen.choose(0, 100).map(_.toDouble)
    } yield (k, t, v)
    (1 to 5).foreach { i =>
      val seed = rng.Seed(7000L + i)
      val lRows = (0 until 12).toList.map(r =>
        leftGen.pureApply(Gen.Parameters.default, seed.slide.reseed(r)))
        .zipWithIndex.map { case ((k, t, _), ix) => (k, t, ix.toLong) }
      val rRows = (0 until 8).toList.map(r =>
        rightGen.pureApply(Gen.Parameters.default, seed.slide.reseed(100 + r)))
        // unique (key, ts) per the asofJoin contract
        .groupBy(x => (x._1, x._2)).map(_._2.head).toList
      val l = lRows.toDF("k", "t", "lid")
      val r = rRows.toDF("k", "t", "v")
      for (inclusive <- Seq(true, false)) {
        val got = AsofJoin.asofJoin(l, r, Seq("k"), "t", "t", inclusive)
          .collect().map(x => (x.getLong(2),
            if (x.isNullAt(3)) null else x.getDouble(3))).toMap
        // naive reference: all candidate pairs, keep the latest
        val want = lRows.map { case (k, t, lid) =>
          val cands = rRows.filter(rr => rr._1 == k &&
            (if (inclusive) rr._2 <= t else rr._2 < t))
          lid -> (if (cands.isEmpty) null
                  else cands.maxBy(_._2)._3.asInstanceOf[Any])
        }.toMap
        assert(got === want, s"i=$i inclusive=$inclusive")
      }
      // range join vs naive filter over the cross product
      val ivs = rRows.zipWithIndex
        .map { case ((k, t, _), ix) => (ix.toLong, t.toDouble, (t + 7).toDouble) }
      val iv = ivs.toDF("band", "lo", "hi")
      val vals = lRows.map { case (_, t, lid) => (lid, t.toDouble) }
        .toDF("lid", "x")
      val gotR = RangeJoin.rangeJoin(vals, iv, "x", "lo", "hi", binWidth = 5.0)
        .select("lid", "band").collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      val wantR = (for {
        (lid, x) <- lRows.map { case (_, t, lid) => (lid, t.toDouble) }
        (band, lo, hi) <- ivs if x >= lo && x <= hi
      } yield (lid, band)).sorted
      assert(gotR === wantR, s"i=$i range")
    }
  }

  test("toPuffy(sorted) inverts toLong on array columns") {
    sampleTables(10).foreach { rows =>
      val nonEmpty = rows.filter(_._2.nonEmpty)
      if (nonEmpty.nonEmpty) {
        val df = nonEmpty.map(r => (r._1, r._2)).toDF("k", "a")
        val long = FrameEngine(df, Seq("k")).toLong("a")
        val back = FrameEngine(long, Seq("k", "a_level0"))
          .toPuffy(Seq("k"), keepMissingIdcs = false,
            aggfunc = (_, c) => sort_array(collect_list(c)))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        nonEmpty.foreach { case (k, a, _) =>
          assert(back(k) === a.sorted, s"key $k of $nonEmpty")
        }
      }
    }
  }

  test("shared axis yields max(|x|,|y|) rows per key (outer-aligned)") {
    sampleTables(15).foreach { rows =>
      val df = rows.map(r => (r._1, r._2, r._3)).toDF("k", "x", "y")
      val aligned = FrameEngine(df, Seq("k"))
        .toLong(sharedAxes = Map("axis" -> Map("x" -> 0, "y" -> 0)))
      val expected = rows.map { case (_, x, y) =>
        math.max(x.size, y.size).toLong
      }.sum
      assert(aligned.count() === expected, s"rows=$rows")
    }
  }

  // ---- native one-pass expressions ≡ their composable reference forms ----
  // The oracle SQL mirrors the composable forms; these properties pin the
  // native rewrites to them bit-for-bit on generated text so a drift in
  // either implementation fails immediately.

  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    ws <- Gen.listOfN(n, Gen.oneOf(
      Gen.alphaStr.map(_.take(5)),
      Gen.oneOf("the", "a", "und", "42", "a-b", "x,y", "\tz")))
    seps <- Gen.listOfN(n, Gen.oneOf(" ", "  ", " \t "))
  } yield ws.zip(seps).map { case (w, s) => w + s }.mkString

  private def sampleTexts(n: Int): Seq[String] =
    (1 to n).map(i => textGen.pureApply(Gen.Parameters.default,
      rng.Seed(1000L + i)))

  test("MinHashSigsExpr / SimHashExpr ≡ composable minhash/aggregate forms") {
    import graft.functions.TextFunctions
    val df = sampleTexts(60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val hs = TextFunctions.shingleHashes(col("t"), 3)
    // composable reference: per-component interpreted transform lambdas
    // and the per-bit aggregate votes
    val composableSimhash = (0 until 16).map { j =>
      val vote = aggregate(hs, lit(0L),
        (acc, h) => acc + (shiftright(h, j).bitwiseAND(lit(1L)) * 2 - 1))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val rows = df.select(
      TextFunctions.minhashSigs(hs, 16).as("sigs"),
      array((0 until 16).map(j => TextFunctions.minhash(hs, j)): _*).as("ref_sigs"),
      TextFunctions.simhash(hs, 16).as("sh"),
      composableSimhash.as("ref_sh")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
      assert(r.getLong(2) === r.getLong(3))
    }
  }

  test("TokenStatsExpr ≡ split/regexp_extract_all counts") {
    import org.apache.spark.sql.GraftColumnCompat._
    val df = (sampleTexts(60) ++ Seq("", " ", "\t", "a", "héllo wörld!", "1+1=2"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val tc = toColumn(graft.functions.TokenStatsExpr(toExpression(col("t"))))
    val rows = df.select(
      tc.getField("n_ws").as("nws"),
      size(split(trim(lower(col("t"))), "\\s+")).as("ref_nws"),
      tc.getField("n_re").as("nre"),
      size(regexp_extract_all(col("t"),
        lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))).as("ref_nre"),
      col("t")).collect()
    rows.foreach { r =>
      assert(r.getInt(0) === r.getInt(1), s"n_ws for '${r.getString(4)}'")
      assert(r.getInt(2) === r.getInt(3), s"n_re for '${r.getString(4)}'")
    }
  }

  test("connectedComponents ≡ BFS reference on random graphs, both paths") {
    import graft.operators.Dedup
    (1 to 8).foreach { trial =>
      val seed = rng.Seed(7000L + trial)
      val nEdges = 5 + trial * 4
      val edges = (0 until nEdges).map { e =>
        val g = for {
          a <- Gen.choose(0L, 40L); b <- Gen.choose(0L, 40L) if a != b
        } yield (math.min(a, b), math.max(a, b))
        g.pureApply(Gen.Parameters.default, seed.slide.reseed(e))
      }.distinct
      // independent reference: BFS flood fill
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val nodes = adj.keySet
      val expected = scala.collection.mutable.Map[Long, Long]()
      nodes.toSeq.sorted.foreach { start =>
        if (!expected.contains(start)) {
          var frontier = Set(start)
          while (frontier.nonEmpty) {
            frontier.foreach(n => expected(n) = start)
            frontier = frontier.flatMap(adj)
              .filterNot(expected.contains)
          }
        }
      }
      val pairs = edges.toDF("id_a", "id_b")
      val local = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local === expected.toMap, s"local path, trial $trial")
      val dist = Dedup.connectedComponents(pairs, localEdgeLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist === expected.toMap, s"distributed path, trial $trial")
    }
  }

  test("MinHashBucketsExpr ≡ md5(concat_ws) over signature bands") {
    import graft.functions.TextFunctions
    val df = sampleTexts(40).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val hs = TextFunctions.shingleHashes(col("t"), 3)
    val refBuckets = array((0 until 8).map { b =>
      md5(concat_ws("_",
        TextFunctions.minhash(hs, 2 * b).cast("string"),
        TextFunctions.minhash(hs, 2 * b + 1).cast("string")))
    }: _*)
    val rows = df.select(
      TextFunctions.minhashBuckets(hs, 16, 8).as("bk"),
      refBuckets.as("ref_bk")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("ImageHeaders.dims: arbitrary byte fuzz never throws; valid-prefix" +
      " payloads with trailing garbage still parse") {
    import graft.functions.ImageHeaders.dims
    val byteGen = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
    (0 until 500).foreach { i =>
      val bytes = byteGen
        .pureApply(Gen.Parameters.default, rng.Seed(i.toLong)).toArray
      val r = dims(bytes) // null or a sane struct — never an exception
      if (r != null) {
        assert(r.getInt(1) > 0 && r.getInt(2) > 0)
        assert(Set("png", "jpeg", "gif", "bmp")(r.getUTF8String(0).toString))
      }
      // magic-byte prefixes + random tails: the parser reads bounded
      // offsets, so garbage after a complete header must not matter
      val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a,
        0x0a, 0, 0, 0, 0x0d, 'I', 'H', 'D', 'R', 0, 0, 1, 0, 0, 0, 2, 0) ++
        bytes
      val pr = dims(png)
      assert(pr != null && pr.getInt(1) === 256 && pr.getInt(2) === 512)
    }
  }

  test("normalizeText is idempotent and charShingles is total on random" +
      " unicode strings") {
    import graft.operators.TextAnalysis.normalizeText
    import graft.functions.TextFunctions.charShingles
    val strGen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.const(' '), Gen.const('\u00e9'),
      Gen.const('\u0301'), Gen.const('\u65e5'), Gen.const('\u00df'),
      Gen.const('\t'))).map(_.mkString)
    val samples = (0 until 200).map(i =>
      strGen.pureApply(Gen.Parameters.default, rng.Seed(i.toLong)))
    val df = samples.toDF("t")
    val once = df.select(normalizeText(col("t")).as("n"))
    val twice = once.select(normalizeText(col("n")).as("n2"), col("n"))
      .collect()
    twice.foreach(r => assert(r.getString(0) === r.getString(1)))
    // charShingles: total (no throw), distinct, each shingle 3 chars
    // (code points) unless the input is shorter
    val sh = df.select(col("t"), charShingles(col("t"), 3).as("sh")).collect()
    sh.foreach { r =>
      val t = r.getString(0)
      val arr = r.getSeq[String](1)
      assert(arr.distinct.length === arr.length)
      val tCp = t.codePointCount(0, t.length)
      if (tCp >= 3) {
        assert(arr.forall(s => s.codePointCount(0, s.length) === 3))
        assert(arr.length <= tCp - 2)
      } else assert(arr === Seq(t))
    }
  }

  test("PqEncodeExpr ≡ scalar argmin reference on random vectors;" +
      " ADC score equals cosine against the reconstruction") {
    import graft.operators.Similarity
    val dim = 16; val m = 4; val nAnchors = 5
    def vecGen(seed: Long): Array[Float] =
      Array.tabulate(dim) { d =>
        Gen.choose(-1.0, 1.0).pureApply(Gen.Parameters.default,
          rng.Seed(seed * 100 + d)).toFloat
      }
    val rows = (0 until 40).map(i => (i.toLong, vecGen(i.toLong)))
    val df = rows.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebook(df, "vec_id", "embedding",
      col("vec_id") < nAnchors)
    // scalar reference: per subspace, nearest anchor slice by round-6 L2²
    def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def refEncode(v: Array[Float]): Seq[Int] =
      (0 until m).map { j =>
        (0 until nAnchors).map { c =>
          val d2 = (j * dim / m until (j + 1) * dim / m)
            .map(i => { val dx = v(i).toDouble - cb(c)(i); dx * dx }).sum
          (round6(d2), c)
        }.min._2
      }
    val got = Similarity.pqEncode(df, "vec_id", "embedding", cb, m)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    rows.foreach { case (id, v) =>
      assert(got(id) === refEncode(v), s"vec $id")
    }
    // ADC = cosine(query, reconstruction-from-codes), rounded to 6
    val q = rows.head._2.map(_.toDouble)
    val adc = Similarity.pqTopK(df.filter($"vec_id" === 0L), df,
        "vec_id", "embedding", cb, m, k = 39)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    rows.tail.foreach { case (id, _) =>
      val recon = got(id).zipWithIndex.flatMap { case (c, j) =>
        cb(c).slice(j * dim / m, (j + 1) * dim / m) }.toArray
      val dot = q.zip(recon).map { case (a, b) => a * b }.sum
      val expect = round6(dot / (math.sqrt(q.map(x => x * x).sum) *
        math.sqrt(recon.map(x => x * x).sum)))
      assert(math.abs(adc(id) - expect) < 2e-6, s"neighbor $id")
    }
  }

  test("topKPerKey ≡ window row_number reference on random keyed data") {
    import org.apache.spark.sql.expressions.Window
    val rowGen = for {
      k <- Gen.choose(0L, 6L)   // few keys -> plenty of per-key ties
      s <- Gen.choose(0, 9).map(_.toDouble) // coarse scores -> tie-breaks
    } yield (k, s)
    (1 to 5).foreach { round =>
      val rows = (0 until 120).map { i =>
        val (k, s) = rowGen.pureApply(Gen.Parameters.default,
          rng.Seed(round * 1000L + i))
        (k, i.toLong, s)
      }
      val df = rows.toDF("k", "id", "score")
      val kk = 1 + round % 4
      val got = graft.operators.TopK.topKPerKey(df, Seq("k"), "score", "id", kk)
        .collect().map(_.toSeq).toSet
      val w = Window.partitionBy($"k").orderBy($"score".desc, $"id".asc)
      val ref = df.withColumn("rk", row_number().over(w).cast("int"))
        .filter($"rk" <= kk).select($"k", $"id", $"score", $"rk")
        .collect().map(_.toSeq).toSet
      assert(got === ref, s"round $round k=$kk")
    }
  }

  test("NgramsExpr is total on random unicode and emits exactly" +
      " max(0, words-n+1) positional grams; normalizeUrl is idempotent") {
    import org.apache.spark.sql.GraftColumnCompat._
    import graft.operators.TextAnalysis.normalizeUrl
    val strGen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.const(' '), Gen.const('\t'),
      Gen.const('日'), Gen.const('é'))).map(_.mkString)
    val samples = (0 until 200).map(i =>
      strGen.pureApply(Gen.Parameters.default, rng.Seed(i.toLong)))
    val df = samples.toDF("t")
    val ng = toColumn(graft.functions.NgramsExpr(toExpression(col("t")), 3))
    df.select(col("t"), ng.as("g")).collect().foreach { r =>
      val t = r.getString(0)
      // mirror the documented tokenization: space-only trim, \s+ split
      var s = 0; var e = t.length
      while (s < e && t.charAt(s) == ' ') s += 1
      while (e > s && t.charAt(e - 1) == ' ') e -= 1
      val words = t.substring(s, e).split("\\s+", -1)
      assert(r.getSeq[String](1).length === math.max(0, words.length - 2))
    }
    // URL canonicalization is a projection: applying it twice = once
    val urlGen = for {
      scheme <- Gen.oneOf("http", "HTTPS", "ftp")
      www <- Gen.oneOf("", "WWW.", "www.")
      host <- Gen.oneOf("Ex.COM", "a-b.org", "X.Y.net")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.oneOf("", "/", "/A/b", "/p/")
      q <- Gen.oneOf("", "?q=1", "?utm_source=x", "?utm_a=1&q=2&gclid=3",
        "?a=1&utm_b=2")
      frag <- Gen.oneOf("", "#top")
    } yield s"$scheme://$www$host$port$path$q$frag"
    val urls = (0 until 300).map(i =>
      urlGen.pureApply(Gen.Parameters.default, rng.Seed(i.toLong)))
    urls.toDF("u")
      .select(normalizeUrl(col("u")).as("n"))
      .select(col("n"), normalizeUrl(col("n")).as("n2"))
      .collect()
      .foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("property: PNG encode/decode round-trips random planes exactly" +
      " across all deflate modes; JPEG stays within quantization error") {
    import graft.functions.{JpegCodec, PngCodec}
    val rnd = new scala.util.Random(416L) // deterministic
    for (trial <- 0 until 40) {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(40)
      val pix = Array.fill(w * h)(rnd.nextInt(256).toByte)
      val mode = trial % 3
      val g = PngCodec.decodeGray(PngCodec.encodeGray(w, h, pix, mode))
      assert(g != null && g.w == w && g.h == h &&
        g.pix.sameElements(pix),
        s"trial $trial: ${w}x$h mode $mode png roundtrip diverged")
      val j = JpegCodec.decodeLuma(JpegCodec.encodeGray(w, h, pix,
        color = trial % 2 == 0, restartInterval = trial % 5))
      assert(j != null && j.w == w && j.h == h, s"trial $trial jpeg")
      val maxDiff = (0 until w * h).map(i =>
        math.abs((j.pix(i) & 0xff) - (pix(i) & 0xff))).max
      // all-8s quant on pure noise: per-coefficient error <= 4, and the
      // 64-term IDCT concentration keeps pixels well inside +-32
      assert(maxDiff <= 32, s"trial $trial: jpeg max diff $maxDiff")
    }
  }

  test("property: kllSketch (global, sharded) preserves total weight" +
      " and brackets true quantiles within the composed MRL bound") {
    import graft.operators.Sketches
    val rnd = new scala.util.Random(77L)
    val n = 2000
    val values = Array.fill(n)(rnd.nextInt(100000).toLong)
    val df = values.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("id", "value")
    val k = 32; val shards = 8
    val rows = Sketches.kllSketch(df, "id", "value", k, shards)
      .collect().map(r => (r.getAs[Int]("level"), r.getAs[Long]("value")))
    assert(rows.map { case (l, _) => 1L << l }.sum === n.toLong)
    // composed deterministic bound: shards' own builds + one merge pass
    def bound(m: Long): Long = {
      val c = m / k
      if (c == 0) 0L
      else c * (63 - java.lang.Long.numberOfLeadingZeros(c) + 1)
    }
    val totalBound = bound(n.toLong / shards + k) * shards + bound(n.toLong)
    val sorted = values.sorted
    val byValue = rows.sortBy(_._2)
    for (q <- Seq(0.25, 0.5, 0.75)) {
      val target = (q * n).toLong
      var cum = 0L
      var est = sorted.head
      for ((l, v) <- byValue if cum < target) { cum += 1L << l; est = v }
      val trueRank = sorted.count(_ < est)
      assert(math.abs(trueRank - target) <= totalBound + k,
        s"q=$q trueRank=$trueRank target=$target bound=$totalBound")
    }
  }
}
