package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.Events

/** Behavior tests for the LLM-pipeline extension operators on small
  * synthetic fixtures (the sf-scale oracle checks live in the driver
  * harness / tools/check_oracle.py).
  */
class OperatorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),
    (2L, "completely different content with no overlap at all here"),
    (3L, "the quick brown fox jumps over the lazy dog") // exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length === 3)
    val dup = out.find(_.getAs[Long]("dup_count") == 2L).get
    assert(dup.getAs[Long]("keep_id") === 0L)
  }

  test("normalized dedup catches whitespace/case variants") {
    val d = Seq((0L, "Hello  World"), (1L, "hello world ")).toDF("doc_id", "text")
    assert(Dedup.exactNormalized(d, "doc_id", "text").count() === 1L)
  }

  test("minhash signatures: identical texts get identical signatures") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sig(0L) === sig(3L))
    assert(sig(0L) !== sig(2L))
  }

  test("LSH pairs find near and exact dups, not disjoint docs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L))) // exact dup always collides
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("writeReleaseChecked: a contract violation blocks the publish" +
      " and leaves NO artifact; a clean corpus publishes normally") {
    import graft.sources.Release
    val base = java.nio.file.Files.createTempDirectory("relck").toString
    val dup = Seq((1L, "alpha"), (1L, "beta")).toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      Release.writeReleaseChecked(dup, "doc_id", "text", s"$base/bad",
        nShards = 2)
    }
    assert(err.getMessage.contains("unique(doc_id)"))
    assert(!new java.io.File(s"$base/bad/manifest").exists())
    assert(!new java.io.File(s"$base/bad/data").exists())
    val ok = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    Release.writeReleaseChecked(ok, "doc_id", "text", s"$base/good",
      nShards = 2)
    assert(new java.io.File(s"$base/good/manifest").exists())
  }

  test("packEfficiency: padding only in each bucket's last pack;" +
      " boundary-straddling docs counted once; exact-fit bucket pads 0") {
    import graft.operators.Sampling
    // one bucket (nBuckets=1): docs of 6,3,7 tokens, seq=8
    // stream: [0,6) [6,9) [9,16) → packs 0,1 (6+3+7=16 = exactly 2 packs)
    val a = Seq((1L, 6L), (2L, 3L), (3L, 7L)).toDF("id", "tok")
    val asg = Sampling.packSequences(a, "id", "tok", seqTokens = 8L,
      nBuckets = 1)
    val r = Sampling.packEfficiency(asg, "tok", 8L).collect()(0)
    // order within the bucket is hash-determined; totals are invariant:
    // 16 tokens = 2 full packs, 0 padding; at least one doc straddles
    // (6/3/7 can't tile two 8-packs without a split)
    assert(r.getLong(0) === 1L && r.getLong(1) === 3L)
    assert(r.getLong(2) === 2L && r.getLong(3) === 16L)
    assert(r.getLong(4) === 0L && r.getDouble(5) === 1.0)
    assert(r.getLong(6) >= 1L)
    // add a 5-token doc: 21 tokens → 3 packs, 3 padding
    val b = Seq((1L, 6L), (2L, 3L), (3L, 7L), (4L, 5L)).toDF("id", "tok")
    val r2 = Sampling.packEfficiency(
      Sampling.packSequences(b, "id", "tok", 8L, 1), "tok", 8L)
      .collect()(0)
    assert(r2.getLong(2) === 3L && r2.getLong(4) === 3L)
    assert(r2.getDouble(5) === math.rint(21.0 / 24.0 * 1e6) / 1e6)
  }

  test("VocabIndex: batched ingest unions to the one-shot vocabulary;" +
      " absorb grows it; replay no-ops; reset cursor fails loud;" +
      " artifact probe equals the two-DataFrame form") {
    import graft.operators.TextAnalysis
    import graft.sources.VocabIndex
    val path = java.nio.file.Files.createTempDirectory("vocab").toString +
      "/art"
    val b0 = Seq("alpha bravo charlie").toDF("text")
    val b1 = Seq("bravo delta", "echo").toDF("text")
    VocabIndex.ingestBatch(b0, "text", path, 0L)
    VocabIndex.ingestBatch(b1, "text", path, 1L)
    def vocabOf = VocabIndex.load(spark, path).collect()
      .map(_.getString(0)).toSet
    assert(vocabOf === Set("alpha", "bravo", "charlie", "delta", "echo"))
    VocabIndex.ingestBatch(b1, "text", path, 1L) // replay: no-op
    assert(vocabOf.size === 5)
    val err = intercept[IllegalArgumentException] {
      VocabIndex.ingestBatch(b0, "text", path, 0L)
    }
    assert(err.getMessage.contains("checkpoint"))
    VocabIndex.absorb(Seq("foxtrot alpha").toDF("text"), "text", path)
    assert(vocabOf === Set("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot"))
    val batch = Seq("alpha zork", "delta quux zork").toDF("text")
    val viaArtifact = VocabIndex.oov(batch, "text", path).collect()(0)
    val ref = Seq("alpha bravo charlie", "bravo delta", "echo",
      "foxtrot alpha").toDF("text")
    val direct = TextAnalysis.oovRates(ref, batch, "text").collect()(0)
    assert(viaArtifact.toSeq === direct.toSeq)
    assert(viaArtifact.getLong(2) === 3L) // zork ×2 + quux
  }

  test("checkRowRulesBy: per-group report equals checkRowRules run per" +
      " slice; null group is a real group") {
    import graft.operators.Contracts._
    val df = Seq(
      ("web", "ok", 5L), ("web", null.asInstanceOf[String], 5L),
      ("pdf", "ok", -1L),
      (null.asInstanceOf[String], "ok", 5L)).toDF("src", "text", "n")
    val rules = Seq(NotNull("text"), InRange("n", 1, 100))
    val by = graft.operators.Contracts.checkRowRulesBy(df, "src", rules)
      .collect()
      .map(r => (Option(r.getString(0)), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(by.keySet.map(_._1) === Set(Some("web"), Some("pdf"), None))
    for (g <- Seq(Some("web"), Some("pdf"), None)) {
      val slice = g.map(v => df.filter(col("src") === v))
        .getOrElse(df.filter(col("src").isNull))
      val solo = graft.operators.Contracts.checkRowRules(slice, rules)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
      for ((rule, stats) <- solo)
        assert(by((g, rule)) === stats, s"group $g rule $rule")
    }
    assert(by((Some("web"), "not_null(text)")) === ((2L, 1L, false)))
    assert(by((Some("pdf"), "in_range(n,1.0,100.0)")) === ((1L, 1L, false)))
  }

  test("oovRatesBy: per-group rows equal oovRates run per slice against" +
      " the SHARED reference vocabulary") {
    import graft.operators.TextAnalysis
    val ref = Seq("alpha bravo charlie", "delta echo").toDF("text")
    val batch = Seq(("en", "alpha zork"), ("de", "zork quux bravo"),
      ("en", "delta delta")).toDF("g", "text")
    val by = TextAnalysis.oovRatesBy(ref, batch, "text", "g")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    for (g <- Seq("en", "de")) {
      val solo = TextAnalysis.oovRates(ref,
        batch.filter(col("g") === g), "text").collect()(0).toSeq
      assert(by(g) === solo, s"group $g")
    }
    assert(by("de").head === 3L) // de: 3 tokens, zork+quux OOV
  }

  test("oovRates: token vs type rates diverge on repeated novel tokens;" +
      " fully-known batch scores zero; empty batch is all zeros") {
    import graft.operators.TextAnalysis
    val ref = Seq("alpha bravo charlie", "delta echo").toDF("text")
    // batch: 2 known tokens + novel 'zork' three times + novel 'quux'
    val batch = Seq("alpha zork zork", "zork quux bravo").toDF("text")
    val r = TextAnalysis.oovRates(ref, batch, "text").collect()(0)
    assert(r.getLong(0) === 6L && r.getLong(1) === 4L) // 6 tokens, 4 types
    assert(r.getLong(2) === 4L && r.getLong(3) === 2L) // zork×3 + quux
    assert(r.getDouble(4) === math.rint(4.0 / 6.0 * 1e6) / 1e6)
    assert(r.getDouble(5) === 0.5)
    val clean = TextAnalysis.oovRates(ref, ref, "text").collect()(0)
    assert(clean.getLong(2) === 0L && clean.getDouble(4) === 0.0)
    val empty = TextAnalysis.oovRates(ref, ref.filter(lit(false)), "text")
      .collect()(0)
    assert(empty.toSeq === Seq(0L, 0L, 0L, 0L, 0.0, 0.0))
  }

  test("tfidfCosinePairs: prefix-filtered join equals the brute-force" +
      " cosine over normalized tf-idf vectors; exact dups score 1") {
    import graft.operators.TextAnalysis
    val rows = Seq(
      (0L, "spark shuffle join broadcast"),
      (1L, "spark shuffle join broadcast"),      // exact dup of 0
      (2L, "spark shuffle join partition"),      // 3/4 shared
      (3L, "window agg sort order limit"),       // disjoint
      (4L, "window agg sort order limit extra")) // superset of 3
    val df = rows.toDF("id", "text")
    def vec(t: String, n: Int, dfm: Map[String, Int]): Map[String, Double] = {
      val tf = t.split("\\s+").groupBy(identity).map { case (k, v) =>
        k -> v.length.toDouble }
      val w = tf.map { case (k, c) =>
        k -> c * (math.log((1.0 + n) / (1.0 + dfm(k))) + 1.0) }
      val nn = math.sqrt(w.values.map(x => x * x).sum)
      w.map { case (k, v) => k -> v / nn }
    }
    val dfm = rows.flatMap(_._2.split("\\s+").distinct)
      .groupBy(identity).map { case (k, v) => k -> v.length }
    val vs = rows.map { case (i, t) => i -> vec(t, rows.size, dfm) }.toMap
    val brute = (for {
      (i, _) <- rows; (j, _) <- rows if i < j
      c = vs(i).map { case (k, v) => v * vs(j).getOrElse(k, 0.0) }.sum
      r = math.rint(c * 1e6) / 1e6 if r >= 0.5
    } yield (i, j, r)).toSet
    val got = TextAnalysis.tfidfCosinePairs(df, "id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === brute)
    assert(got.exists(p => p._1 == 0L && p._2 == 1L && p._3 === 1.0))
    assert(!got.exists(p => (p._1, p._2) == (0L, 3L))) // disjoint absent
    // worst-case guard: cap on → a subset of the exact output with
    // cosines unchanged (recall trade only, never wrong values);
    // a generous cap → identical to exact
    val capped = TextAnalysis
      .tfidfCosinePairs(df, "id", "text", 0.5, maxBucketSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped.subsetOf(brute))
    assert(capped.contains((0L, 1L, 1.0)),
      "identical-text pairs bypass candidate generation, cap-immune")
    val loose = TextAnalysis
      .tfidfCosinePairs(df, "id", "text", 0.5, maxBucketSize = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(loose === brute)
  }

  test("distributionDrift: identical snapshots score zero; a collapsed" +
      " distribution scores high PSI; outliers clamp into edge bins") {
    import graft.operators.Sketches
    val a = Seq(10.0, 20.0, 30.0, 40.0, -5.0, 999.0).toDF("v")
    val bins = Sketches.driftBins(a, a, "v", nBins = 4, lo = 0, hi = 40)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // w=10: -5 clamps to bin 0; 10→1; 20→2; 30→3; 40 and 999 clamp to 3
    assert(bins === Map(0 -> (1L, 1L), 1 -> (1L, 1L), 2 -> (1L, 1L),
      3 -> (3L, 3L)))
    val same = Sketches.distributionDrift(a, a, "v", 4, 0, 40).collect()(0)
    assert(same.getDouble(0) === 0.0 && same.getDouble(1) === 0.0)
    assert(same.getLong(2) === 6L && same.getLong(3) === 6L)
    val b = Seq.fill(6)(10.0).toDF("v") // everything lands in one bin
    val moved = Sketches.distributionDrift(a, b, "v", 4, 0, 40).collect()(0)
    assert(moved.getDouble(0) > 0.25) // "significant shift" PSI band
    assert(moved.getDouble(1) > 0.4)  // KS gap at the first bin edge
  }

  test("bin artifact: batched ingest telescopes to the one-shot build;" +
      " a replayed batch no-ops; a reset cursor fails loud;" +
      " driftVsBins equals the two-DataFrame form") {
    import graft.operators.Sketches
    val path = java.nio.file.Files.createTempDirectory("bins").toString +
      "/art"
    val all = Seq(1.0, 5.0, 9.0, 15.0, 25.0, 35.0, -3.0, 99.0).toDF("v")
    val b0 = Seq(1.0, 5.0, 9.0, 15.0).toDF("v")
    val b1 = Seq(25.0, 35.0, -3.0, 99.0).toDF("v")
    Sketches.ingestBinsBatch(b0, "v", path, 0L, nBins = 4, lo = 0, hi = 40)
    Sketches.ingestBinsBatch(b1, "v", path, 1L, nBins = 4, lo = 0, hi = 40)
    def binsOf = Sketches.loadBins(spark, path).bins.collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val oneShot = Sketches.binCounts(all, "v", 4, 0, 40).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(binsOf === oneShot)
    Sketches.ingestBinsBatch(b1, "v", path, 1L) // replay: must no-op
    assert(binsOf === oneShot)
    val err = intercept[IllegalArgumentException] {
      Sketches.ingestBinsBatch(b0, "v", path, 0L) // cursor went backwards
    }
    assert(err.getMessage.contains("checkpoint"))
    val base = Seq(2.0, 6.0, 11.0, 33.0).toDF("v")
    val viaArtifact = Sketches.driftVsBins(base, "v", path).collect()(0)
    val direct = Sketches.distributionDrift(base, all, "v", 4, 0, 40)
      .collect()(0)
    assert(viaArtifact.toSeq === direct.toSeq)
  }

  test("distributionDriftBy: a null group is a real group and every" +
      " group's stats equal the ungrouped form run on its slice") {
    import graft.operators.Sketches
    val a = Seq(("en", 5.0), ("en", 15.0), ("de", 5.0),
      (null.asInstanceOf[String], 5.0), (null.asInstanceOf[String], 25.0))
      .toDF("g", "v")
    val b = Seq(("en", 5.0), ("en", 5.0), ("de", 35.0),
      (null.asInstanceOf[String], 25.0)).toDF("g", "v")
    val by = Sketches.distributionDriftBy(a, b, "v", "g", 4, 0, 40)
      .collect().map(r => Option(r.getString(0)) ->
        (r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    assert(by.keySet === Set(Some("en"), Some("de"), None))
    for ((g, slice) <- Seq(
        (Some("en"), (d: org.apache.spark.sql.DataFrame) =>
          d.filter(col("g") === "en")),
        (Some("de"), (d: org.apache.spark.sql.DataFrame) =>
          d.filter(col("g") === "de")),
        (None: Option[String], (d: org.apache.spark.sql.DataFrame) =>
          d.filter(col("g").isNull)))) {
      val solo = Sketches.distributionDrift(slice(a), slice(b), "v", 4, 0, 40)
        .collect()(0)
      assert(by(g) === ((solo.getDouble(0), solo.getDouble(1),
        solo.getLong(2), solo.getLong(3))), s"group $g")
    }
  }

  test("Contracts.check: every rule class counts its violations; empty" +
      " tables pass; requireContract throws with the failing rules") {
    import graft.operators.Contracts._
    val ref = Seq(1L, 2L, 3L).toDF("k")
    val df = Seq(
      (1L, "alpha", 5L, java.lang.Long.valueOf(1L)),
      (2L, null.asInstanceOf[String], 0L,
        java.lang.Long.valueOf(2L)),            // null text, range-low
      (3L, "beta", 9999L, java.lang.Long.valueOf(9L)), // fk orphan
      (3L, "gamma", 5L,
        null.asInstanceOf[java.lang.Long]))     // dup id, null fk
      .toDF("id", "text", "n", "fk")
    val rep = graft.operators.Contracts.check(df, Seq(
      NotNull("text"), InRange("n", 1, 100),
      Predicate("short_text", length(col("text")) <= 5),
      Unique(Seq("id")), ForeignKeyIn("fk", ref, "k")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rep.map(_._1).toSeq === Seq("not_null(text)",
      "in_range(n,1.0,100.0)", "predicate(short_text)", "unique(id)",
      "fk(fk->k)")) // declaration order survives the union
    val byRule = rep.map(r => r._1 -> r).toMap
    assert(byRule("not_null(text)") === ("not_null(text)", 4L, 1L, false))
    assert(byRule("in_range(n,1.0,100.0)")._3 === 2L) // 0 and 9999
    assert(byRule("predicate(short_text)")._3 === 1L) // null text only
    assert(byRule("unique(id)")._3 === 2L) // both id=3 rows collide
    assert(byRule("fk(fk->k)")._3 === 2L)     // orphan 9 + null key
    // empty input: checked 0, all pass
    val empty = graft.operators.Contracts.check(
      df.filter(lit(false)), Seq(NotNull("text"), Unique(Seq("id"))))
      .collect()
    assert(empty.forall(r => r.getLong(1) == 0L && r.getBoolean(3)))
    val err = intercept[IllegalArgumentException] {
      graft.operators.Contracts.requireContract(df, Seq(NotNull("text")))
    }
    assert(err.getMessage.contains("not_null(text)"))
    // a clean table passes the hard gate silently
    graft.operators.Contracts.requireContract(
      df.filter(col("id") === 1L), Seq(NotNull("text"), Unique(Seq("id"))))
  }

  test("lshEval: exact dups are always recalled; counts are consistent" +
      " (n_hit bounded by both sides, ratios match the counts)") {
    val text = "alpha bravo charlie delta echo foxtrot golf hotel " * 3
    val corpus = Seq(
      (0L, text), (1L, text), // exact dup: identical signatures, a hit
      (2L, "completely different words everywhere nothing shared here at all"),
      (3L, "india juliett kilo lima mike november oscar papa " * 3))
      .toDF("doc_id", "text")
    val r = Dedup.lshEval(corpus, "doc_id", "text", threshold = 0.3)
      .collect()(0)
    val (nTrue, nCand, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nTrue >= 1L && nHit >= 1L) // the exact dup is found
    assert(nHit <= math.min(nTrue, nCand))
    assert(r.getDouble(3) ===
      math.rint(nHit.toDouble / math.max(nTrue, 1L) * 1e6) / 1e6)
    assert(r.getDouble(4) ===
      math.rint(nHit.toDouble / math.max(nCand, 1L) * 1e6) / 1e6)
  }

  test("editDistancePairs is exact: prefix filter + short block find" +
      " precisely the brute-force levenshtein pairs, boundaries included") {
    val rows = Seq(
      (0L, "spark analytics engine"),
      (1L, "spark analytics enginee"), // 1 append from 0
      (2L, "spork analytics engine"),  // 1 sub from 0, 2 from 1
      (3L, "completely different key"),
      (4L, "ab"),                      // short block (len < 6)
      (5L, "ba"),                      // ed(ab, ba) = 2
      (6L, "abcd"),                    // short; ed to "ab" = 2
      (7L, ""),                        // empty key: short block bucket 0
      (8L, "aabb"),                    // repeated grams (occ tagging)
      (9L, "abcdef"))                  // short<->main boundary: max len = 6
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      (i, a) <- rows; (j, b) <- rows if i < j
      d = lev(a, b) if d <= 2
    } yield (i, j, d)).toSet
    val got = Dedup.editDistancePairs(
        rows.toDF("id", "key"), "id", "key", maxDist = 2, q = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === brute)
    assert(brute.contains((0L, 1L, 1)) && brute.contains((4L, 5L, 2)) &&
      brute.contains((4L, 6L, 2)) && brute.contains((6L, 9L, 2)) &&
      brute.contains((4L, 7L, 2))) // the cases the fixture is FOR
  }

  test("chunkByTokensBpe: windows at true token boundaries; overlap-0" +
      " chunks reassemble to the original text; empty text = one chunk") {
    import graft.functions.Bpe
    val d = Seq(
      (0L, "abc abc abc xyz"),
      (1L, ""),
      (2L, "ab")).toDF("doc_id", "text")
    // fixture merges: "abc abc abc xyz" tokenizes as
    // [abc][ abc][ abc][ xyz] -> pieces yield 1+2+2+4 = 9 tokens
    val chunks = TextAnalysis.chunkByTokensBpe(d, "doc_id", "text",
      chunkTokens = 4, overlap = 0, merges = Bpe.fixtureMerges)
      .collect().groupBy(_.getLong(0))
    val c0 = chunks(0L).sortBy(_.getInt(1))
    assert(c0.map(_.getInt(2)).toSeq === Seq(4, 4, 1)) // 9 tokens / 4
    assert(c0.map(_.getString(3)).mkString === "abc abc abc xyz")
    // chunk boundaries fall on token boundaries: the token sequence is
    // [abc][ ][abc][ ][abc][ ][x][y][z], so the first 4-token chunk is
    // the first 8 bytes
    assert(c0(0).getString(3) === "abc abc ")
    assert(chunks(1L).map(r => (r.getInt(1), r.getInt(2), r.getString(3)))
      .toSeq === Seq((0, 0, ""))) // empty text -> one empty chunk
    assert(chunks(2L).head.getInt(2) === 1) // "ab" merges to one token
    // overlap: step 2, chunk 4 over 9 tokens -> ceil((9-2)/2)=4 chunks
    val ov = TextAnalysis.chunkByTokensBpe(d.filter(col("doc_id") === 0),
      "doc_id", "text", chunkTokens = 4, overlap = 2,
      merges = Bpe.fixtureMerges).collect().sortBy(_.getInt(1))
    assert(ov.length === 4)
    assert(ov.map(_.getInt(2)).toSeq === Seq(4, 4, 4, 3))
  }

  test("packSequences: start-addressed packing is deterministic, offsets" +
      " stay under the budget, pack payloads bounded by budget + maxdoc") {
    import graft.operators.Sampling
    val docs = spark.range(500).select(col("id").as("doc_id"),
      (col("id") % 700 + 1).as("n_tokens"))
    val packed = Sampling.packSequences(docs, "doc_id", "n_tokens",
      seqTokens = 1000L, nBuckets = 4).collect()
    assert(packed.length === 500)
    val maxDoc = 700L
    packed.foreach { r =>
      assert(r.getLong(4) >= 0 && r.getLong(4) < 1000L) // offset in budget
    }
    // per-pack payload bound: docs STARTING in a pack total < B + maxdoc
    val perPack = packed.groupBy(r => (r.getLong(2), r.getLong(3)))
      .map { case (_, rs) => rs.map(_.getLong(1)).sum }
    assert(perPack.forall(_ < 1000L + maxDoc))
    // contiguity: within a bucket, starts are the exclusive cumsum in
    // (hash, id) order — equivalently bucket token sum = last start +
    // last len
    val det2 = Sampling.packSequences(docs, "doc_id", "n_tokens",
      seqTokens = 1000L, nBuckets = 4).collect()
    assert(packed.map(_.toSeq).toSet === det2.map(_.toSeq).toSet) // rerun identical
    // every bucket's packs cover 0..total without gaps: sum of tokens ==
    // max(start+len) per bucket
    val byBucket = packed.groupBy(_.getLong(2))
    byBucket.foreach { case (_, rs) =>
      val total = rs.map(_.getLong(1)).sum
      val maxEnd = rs.map(r => r.getLong(3) * 1000L + r.getLong(4) + r.getLong(1)).max
      assert(maxEnd === total)
    }
  }

  test("describe cost contract: each header walk appears exactly once" +
      " in the plan; adversarial magic prefixes yield null, never throw") {
    import graft.operators.Multimodal
    // the payload must derive from a non-foldable column: a literal (or
    // a local Seq) is constant-folded at plan time and leaves no decode
    // expression to inspect
    val d = spark.range(1).select(col("id").as("doc_id"),
      concat(lit("BM"), col("id").cast("string")).cast("binary")
        .as("payload"))
    // every output column consumes the probe structs several times; if
    // CollapseProject ever inlined them, a decoder would run once PER
    // CONSUMER instead of once per row — count each decode expression
    // in the optimized plan to pin the contract
    val plan = Multimodal.describe(d, "doc_id")
      .queryExecution.optimizedPlan.toString
    for (ex <- Seq("imagedimsexpr", "audioinfoexpr", "videoinfoexpr",
        "webminfoexpr")) {
      val n = ex.r.findAllIn(plan.toLowerCase).length
      assert(n === 1, s"$ex appears $n times in plan:\n$plan")
    }
    // adversarial prefixes: right magic, garbage body — each decoder
    // must fall through to null without throwing, and a payload can
    // match at most one kind
    val adv = Seq(
      1L -> ("RIFF".getBytes ++ Array.fill[Byte](20)(99)), // RIFF, no WAVE
      2L -> "ID3".getBytes, // ID3 magic, truncated tag
      3L -> (Array[Byte](0x89.toByte, 'P', 'N', 'G') ++
        Array.fill[Byte](4)(0)), // PNG magic, no IHDR
      4L -> (Array[Byte](0x1a, 0x45, 0xdf.toByte, 0xa3.toByte) ++
        Array.fill[Byte](30)(0x7f)), // EBML magic, garbage body
      5L -> (Array[Byte](0, 0, 0, 16) ++ "ftyp".getBytes ++
        Array.fill[Byte](4)(0x55))) // mp4 box, unknown brand
      .toDF("doc_id", "payload")
    val out = Multimodal.describe(adv, "doc_id").collect()
    assert(out.length === 5)
    out.foreach(r => assert(r.isNullAt(2), s"row $r should be undecodable"))
  }

  test("curateMedia: size gate, exact + byte-shingle + perceptual" +
      " ownership compose; survivors keep describe metadata") {
    import graft.operators.Pipeline
    val rnd = new scala.util.Random(99)
    val base = new Array[Byte](64); rnd.nextBytes(base)
    def bmp(seed: Int, tweak: Int): Array[Byte] = {
      def le(v: Long, n: Int) = Array.tabulate(n)(i => ((v >> (8 * i)) & 0xff).toByte)
      val hdr = "BM".getBytes ++ le(278, 4) ++ le(0, 4) ++ le(54, 4) ++
        le(40, 4) ++ le(9, 4) ++ le(8, 4) ++ le(1, 2) ++ le(24, 2) ++
        Array.fill[Byte](24)(0)
      val px = for (y <- 0 until 8; x <- 0 until 9; _ <- 0 until 3)
        yield (((x * 29 + y * 53 + seed) % 256) +
          (if (x == 0 && y == 0) tweak else 0)).toByte
      // 9px * 3B = 27B rows pad to 28
      val rows = px.grouped(27).flatMap(_ ++ Seq(0.toByte)).toArray
      hdr ++ rows
    }
    // the same picture as a PROGRESSIVE JPEG (block-constant 72×64 so
    // the decoded grid matches the BMP formula exactly at (8x, 8y)):
    // the r16 blindness — progressive re-encodes silently skipped the
    // perceptual leg and survived as "new" — must be gone
    def progJpeg(seed: Int, tweak: Int): Array[Byte] = {
      val pix = Array.tabulate(72 * 64) { i =>
        // BMP rows decode bottom-up, so the JPEG twin flips y
        val bx = (i % 72) / 8; val by = 7 - i / 576
        (((bx * 29 + by * 53 + seed) % 256) +
          (if (bx == 0 && by == 0) tweak else 0)).toByte
      }
      graft.functions.JpegCodec.encodeGrayProgressive(72, 64, pix)
    }
    val d = Seq(
      (0L, base),                            // byte family owner
      (1L, Array[Byte](9, 9) ++ base),       // re-hosted copy -> dropped
      (2L, base),                            // exact dup -> dropped
      (3L, bmp(0, 0)),                       // picture family owner
      (4L, bmp(0, 9)),                       // re-encode (1px) -> dropped
      (5L, bmp(170, 0)),                     // unrelated picture survives
      (6L, Array[Byte](1, 2)),               // below size gate
      (7L, progJpeg(0, 0)))                  // progressive re-encode of 3
      .toDF("doc_id", "payload")
    val out = Pipeline.curateMedia(d, "doc_id", minBytes = 10,
      perceptual = true)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet === Set(0L, 3L, 5L),
      "the progressive re-encode must fall to the perceptual leg")
    assert(out(3L).getString(2) === "image") // describe metadata attached
    assert(out(0L).isNullAt(2))              // raw bytes stay null-kind
    // requireDecodable drops the raw-byte rows before any dedup
    val dec = Pipeline.curateMedia(d, "doc_id", minBytes = 10,
      requireDecodable = true, perceptual = true)
      .collect().map(_.getLong(0)).toSet
    assert(dec === Set(3L, 5L))
  }

  test("AnnIndex: write/load round-trips centroids, codebook, codes and" +
      " meta; loaded search equals in-session search for both PQ forms") {
    import graft.sources.AnnIndex
    val rnd = new scala.util.Random(7)
    val vecs = Seq.tabulate(60)(i =>
      (i.toLong, Array.fill(8)(rnd.nextDouble()))).toDF("vec_id", "embedding")
    val centroids = vecs.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    val cb = Similarity.pqTrainCodebook(vecs, "vec_id", "embedding",
      m = 2, k = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("annidx").toString
    // raw-vector form
    val codes = Similarity.ivfPqEncode(vecs, "vec_id", "embedding",
      centroids, cb, m = 2)
    AnnIndex.write(s"$dir/raw", centroids, cb, codes, m = 2, residual = false)
    val raw = AnnIndex.load(spark, s"$dir/raw")
    assert(!raw.residual && raw.m === 2)
    assert(raw.codebook.map(_.toSeq).toSeq === cb.map(_.toSeq).toSeq)
    val qs = vecs.filter(col("vec_id") < 5)
    val fresh = Similarity.ivfPqTopK(qs, vecs, "vec_id", "embedding",
      centroids, cb, m = 2, k = 3, probes = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    val loaded = Similarity.ivfPqTopKEncoded(qs, raw.codes, "vec_id",
      "embedding", raw.centroids, raw.codebook, raw.m, k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    assert(loaded === fresh)
    // residual form (IVFADC)
    val rcodes = Similarity.ivfPqResidualEncode(vecs, "vec_id", "embedding",
      centroids, cb, m = 2)
    AnnIndex.write(s"$dir/res", centroids, cb, rcodes, m = 2, residual = true)
    val res = AnnIndex.load(spark, s"$dir/res")
    assert(res.residual)
    val freshR = Similarity.ivfPqResidualTopK(qs, vecs, "vec_id",
      "embedding", centroids, cb, m = 2, k = 3, probes = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    val loadedR = Similarity.ivfPqResidualTopKEncoded(qs, res.codes,
      "vec_id", "embedding", res.centroids, res.codebook, res.m,
      k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    assert(loadedR === freshR)
  }

  test("AnnIndex.append: both PQ forms — search over (initial + appended)" +
      " codes equals a from-scratch encode of the union corpus") {
    import graft.sources.AnnIndex
    val rnd = new scala.util.Random(11)
    val vecs = Seq.tabulate(80)(i =>
      (i.toLong, Array.fill(8)(rnd.nextDouble()))).toDF("vec_id", "embedding")
    val centroids = vecs.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    val cb = Similarity.pqTrainCodebook(vecs, "vec_id", "embedding",
      m = 2, k = 4, iters = 1)
    val initial = vecs.filter(col("vec_id") % 3 =!= 0)
    val incoming = vecs.filter(col("vec_id") % 3 === 0)
    val qs = vecs.filter(col("vec_id") < 5)
    val dir = java.nio.file.Files.createTempDirectory("annappend").toString
    // plain (raw-vector) form
    AnnIndex.write(s"$dir/raw", centroids, cb,
      Similarity.ivfPqEncode(initial, "vec_id", "embedding", centroids, cb,
        m = 2), m = 2, residual = false)
    AnnIndex.append(spark, s"$dir/raw", incoming, "vec_id", "embedding")
    val raw = AnnIndex.load(spark, s"$dir/raw")
    assert(raw.codes.count() === 80L)
    val unionRaw = Similarity.ivfPqTopKEncoded(qs,
      Similarity.ivfPqEncode(vecs, "vec_id", "embedding", centroids, cb,
        m = 2), "vec_id", "embedding", centroids, cb, 2, k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    val appended = Similarity.ivfPqTopKEncoded(qs, raw.codes, "vec_id",
      "embedding", raw.centroids, raw.codebook, raw.m, k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    assert(appended === unionRaw)
    // residual (IVFADC) form
    AnnIndex.write(s"$dir/res", centroids, cb,
      Similarity.ivfPqResidualEncode(initial, "vec_id", "embedding",
        centroids, cb, m = 2), m = 2, residual = true)
    AnnIndex.append(spark, s"$dir/res", incoming, "vec_id", "embedding")
    val res = AnnIndex.load(spark, s"$dir/res")
    val unionRes = Similarity.ivfPqResidualTopKEncoded(qs,
      Similarity.ivfPqResidualEncode(vecs, "vec_id", "embedding",
        centroids, cb, m = 2), "vec_id", "embedding", centroids, cb, 2,
      k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    val appendedR = Similarity.ivfPqResidualTopKEncoded(qs, res.codes,
      "vec_id", "embedding", res.centroids, res.codebook, res.m,
      k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    assert(appendedR === unionRes)
  }

  test("AnnIndex.retrain: k-means overload rebuilds quantizers+codes" +
      " to exact parity with a from-scratch build, and the stale" +
      " pre-retrain index really returned different rows") {
    import graft.sources.AnnIndex
    val rnd = new scala.util.Random(17)
    val vecs = Seq.tabulate(90)(i =>
      (i.toLong, Array.fill(8)(rnd.nextDouble()))).toDF("vec_id", "embedding")
    val initial = vecs.filter(col("vec_id") % 3 =!= 0)
    val qs = vecs.filter(col("vec_id") < 5)
    // stale build: quantizers trained when only 2/3 of the corpus existed
    val staleCents = Similarity.trainCentroids(initial, "vec_id",
      "embedding", k = 4, iters = 2)
    val staleCb = Similarity.pqTrainCodebook(initial, "vec_id",
      "embedding", m = 2, k = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("annretrain").toString
    AnnIndex.write(s"$dir/idx", staleCents, staleCb,
      Similarity.ivfPqEncode(initial, "vec_id", "embedding", staleCents,
        staleCb, m = 2), m = 2, residual = false)
    AnnIndex.append(spark, s"$dir/idx",
      vecs.filter(col("vec_id") % 3 === 0), "vec_id", "embedding")
    def search(idx: AnnIndex.Loaded) =
      Similarity.ivfPqTopKEncoded(qs, idx.codes, "vec_id", "embedding",
        idx.centroids, idx.codebook, idx.m, k = 3, probes = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        .sorted
    val stale = search(AnnIndex.load(spark, s"$dir/idx"))
    AnnIndex.retrain(spark, s"$dir/idx", vecs, "vec_id", "embedding",
      kCentroids = 4, kmeansIters = 2, pqK = 4, pqIters = 1,
      pqSampleFraction = 1.0, numFiles = 4)
    val retrained = AnnIndex.load(spark, s"$dir/idx")
    assert(retrained.m === 2 && !retrained.residual,
      "m and residual must survive retrain")
    // from-scratch build with the same trainers over the same corpus
    val freshCents = Similarity.trainCentroids(vecs, "vec_id",
      "embedding", k = 4, iters = 2)
    val freshCb = Similarity.pqTrainCodebook(vecs, "vec_id", "embedding",
      m = 2, k = 4, iters = 1)
    AnnIndex.write(s"$dir/fresh", freshCents, freshCb,
      Similarity.ivfPqEncode(vecs, "vec_id", "embedding", freshCents,
        freshCb, m = 2), m = 2, residual = false)
    val fresh = search(AnnIndex.load(spark, s"$dir/fresh"))
    assert(search(retrained) === fresh,
      "post-retrain search must hash-match the from-scratch build")
    assert(stale !== fresh,
      "the stale index must have returned different rows — otherwise" +
        " the swap isn't load-bearing in this fixture")
  }

  test("AnnIndex.append dedupeIds: replaying a committed batch is a" +
      " no-op with the flag, duplicates ids without it") {
    import graft.sources.AnnIndex
    val rnd = new scala.util.Random(13)
    val vecs = Seq.tabulate(40)(i =>
      (i.toLong, Array.fill(8)(rnd.nextDouble()))).toDF("vec_id", "embedding")
    val centroids = vecs.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    val cb = Similarity.pqTrainCodebook(vecs, "vec_id", "embedding",
      m = 2, k = 4, iters = 1)
    val initial = vecs.filter(col("vec_id") % 3 =!= 0)
    val incoming = vecs.filter(col("vec_id") % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("anndedupe").toString
    AnnIndex.write(s"$dir/idx", centroids, cb,
      Similarity.ivfPqEncode(initial, "vec_id", "embedding", centroids, cb,
        m = 2), m = 2, residual = false)
    // first append commits; the replayed append is anti-joined away
    AnnIndex.append(spark, s"$dir/idx", incoming, "vec_id", "embedding",
      dedupeIds = true)
    AnnIndex.append(spark, s"$dir/idx", incoming, "vec_id", "embedding",
      dedupeIds = true)
    val safe = AnnIndex.load(spark, s"$dir/idx")
    assert(safe.codes.count() === 40L)
    assert(safe.codes.select("neighbor_id").distinct().count() === 40L)
    // the default contract really is caller-owned: replay without the
    // flag duplicates
    AnnIndex.append(spark, s"$dir/idx", incoming, "vec_id", "embedding")
    assert(AnnIndex.load(spark, s"$dir/idx").codes.count() >
      AnnIndex.load(spark, s"$dir/idx").codes
        .select("neighbor_id").distinct().count())
  }

  test("BPE token count: merge walk, pre-tokenizer pieces, merges.txt" +
      " parsing with the byte-unicode alphabet") {
    import graft.functions.{Bpe, TextFunctions}
    def count(text: String, merges: Seq[(String, String)]): Long =
      Seq(Tuple1(text)).toDF("t")
        .select(TextFunctions.bpeTokenCount(col("t"), merges))
        .collect()(0).getLong(0)
    // fixture vocab: "abc abc" -> pieces "abc" / " abc"; each walks
    // a,b,c -> ab,c -> abc; the leading space stays its own symbol
    assert(count("abc abc", Bpe.fixtureMerges) === 3L)
    assert(count("", Bpe.fixtureMerges) === 0L)
    assert(count("xyz", Bpe.fixtureMerges) === 3L) // no merges apply
    // the oracle arithmetic on a mixed sample: bytes - occ(ab) - occ(abc)
    val s = "drab abacus, abc cab! ab abc"
    val expected = s.getBytes.length -
      "(?=ab)".r.findAllIn(s).length - "(?=abc)".r.findAllIn(s).length
    assert(count(s, Bpe.fixtureMerges) === expected.toLong)
    // chained merges collapse a whole word
    val hello = Seq("h" -> "e", "l" -> "l", "he" -> "ll", "hell" -> "o")
    assert(count("hello", hello) === 1L)
    assert(count("hello hello", hello) === 3L) // " hello" keeps its space
    // GPT-2 pre-tokenizer: contractions split off, digits split from
    // letters, so cross-piece pairs never merge
    assert(count("it's", Seq("t" -> "'")) === 4L)
    assert(count("a1", Seq("a" -> "1")) === 2L)
    // merges.txt parsing: version header skipped, Ġ (U+0120) is byte 32
    assert(Bpe.parseMerges(Iterator("#version: 0.2", "a b", "ab c"))
      === Bpe.fixtureMerges)
    assert(Bpe.parseMerges(Iterator("Ġ t")) === Seq(" " -> "t"))
    intercept[IllegalArgumentException] {
      Bpe.parseMerges(Iterator("a b c"))
    }
    // only the LEADING #version line is a header: published tables hold
    // real merge lines starting with '#' (e.g. the pair building '##')
    assert(Bpe.parseMerges(Iterator("#version: 0.2", "# #", "## x"))
      === Seq("#" -> "#", "##" -> "x"))
    assert(Bpe.parseMerges(Iterator("# #")) === Seq("#" -> "#"))
    // non-monotone tables are rejected at walk-table build: rank 0
    // references "ab", which no earlier merge creates — the indexed and
    // round-based walks would silently diverge on such input
    val ex = intercept[IllegalArgumentException] {
      graft.functions.BpeWalk.buildTable(Seq("ab" -> "a", "a" -> "b"))
    }
    assert(ex.getMessage.contains("non-monotone"))
    // monotone chains (each left a prior result) build fine
    graft.functions.BpeWalk.buildTable(
      Seq("a" -> "b", "ab" -> "a", "aba" -> "b"))
  }

  test("Bpe.train learns the hand-derived merge sequence (count argmax," +
      " lexicographic ties, minPairCount stop) and round-trips through" +
      " the walk; order-insensitive") {
    import graft.functions.Bpe
    import graft.operators.TextAnalysis
    // corpus "aa ab aa ab aa" -> piece types: "aa"x1, " aa"x2, " ab"x2
    // pairs: (' ',a)=4, (a,a)=3, (a,b)=2 -> merge 1 = (' ','a')
    // then (' a',a)=2 ties (' a',b)=2 -> 'a' < 'b' -> merge 2 = (' a','a')
    // then merge 3 = (' a','b'); only (a,a)=1 left < minPairCount -> stop
    val types = Seq("aa" -> 1L, " aa" -> 2L, " ab" -> 2L)
    val expected = Seq(" " -> "a", " a" -> "a", " a" -> "b")
    assert(Bpe.train(types, numMerges = 5) === expected)
    assert(Bpe.train(types.reverse, numMerges = 5) === expected)
    // distributed piece counting + train, end to end
    val docs = Seq(Tuple1("aa ab aa ab aa")).toDF("text")
    assert(TextAnalysis.bpeTrainMerges(docs, "text", numMerges = 5)
      === expected)
    // round-trip: counting with the trained table reproduces the
    // hand-walked token count (2 for "aa", 1 each for the other pieces)
    val counts = TextAnalysis.tokenCountsBpe(
      Seq((1L, "aa ab aa ab aa")).toDF("doc_id", "text"),
      "doc_id", "text", merges = expected).collect()
    assert(counts(0).getLong(1) === 6L)
    // the piece-type cap: 28 types ("ab" x20, " ab" x20, "zqa".."zqz" x1)
    // over maxPieceTypes = 10 keeps the top 10 by (count DESC, piece), so
    // only zqa..zqh reach training. Capped: (a,b)=40, (' ',ab)=20,
    // (z,q)=8, then (zq,a)..(zq,h) at 1 each = exactly 11 merges. Without
    // the cap (z,q)=26 would come second.
    val capped = (Seq.fill(20)("ab ab") ++ ('a' to 'z').map(c => s"zq$c"))
      .toDF("text")
    assert(capped.select(explode(graft.functions.TextFunctions
      .bpePieces(col("text")))).distinct().count() === 28L)
    def trainCapped(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bpeTrainMerges(d, "text", numMerges = 11,
        maxPieceTypes = 10, minPairCount = 1L)
    val cappedMerges = trainCapped(capped)
    assert(cappedMerges === Seq("a" -> "b", " " -> "ab", "z" -> "q") ++
      ('a' to 'h').map(c => "zq" -> c.toString))
    assert(TextAnalysis.bpeTrainMerges(capped, "text", numMerges = 2,
      minPairCount = 1L) === Seq("a" -> "b", "z" -> "q"))
    // a rerun over a differently partitioned input is bit-identical
    assert(trainCapped(capped.repartition(3)) === cappedMerges)
    // encodeToken is decodeToken's inverse on every byte
    (0 until 256).foreach { b =>
      val raw = new String(Array(b.toByte), "ISO-8859-1")
      assert(Bpe.decodeToken(Bpe.encodeToken(raw)) === raw)
    }
  }

  test("loadMerges reads through Hadoop FileSystem: bare local path and" +
      " explicit file: scheme both work") {
    import graft.functions.Bpe
    val f = java.io.File.createTempFile("merges", ".txt")
    f.deleteOnExit()
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("#version: 0.2"); w.println("a b"); w.println("ab c"); w.close()
    assert(Bpe.loadMerges(f.getAbsolutePath) === Bpe.fixtureMerges)
    assert(Bpe.loadMerges("file://" + f.getAbsolutePath) === Bpe.fixtureMerges)
  }

  test("Bpe.train at depth: thousands of ranks from a weighted type" +
      " table in bounded time (heap argmax); trained tables are monotone") {
    import graft.functions.Bpe
    val rnd = new scala.util.Random(13)
    val alphabet = "abcdefgh"
    // zipf-ish weighted piece types — enough repeated mass for deep chains
    val types = (0 until 3000).map { i =>
      val len = 3 + rnd.nextInt(20)
      ((0 until len).map(_ => alphabet(rnd.nextInt(8))).mkString,
        (1000L / (1 + i % 50)) + 1L)
    }
    val t0 = System.nanoTime()
    val merges = Bpe.train(types, numMerges = 5000)
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"${merges.length} ranks in $sec%.2f s")
    assert(sec < 30.0, f"training took $sec%.1f s")
    assert(merges.length >= 1000, s"only ${merges.length} ranks learned")
    // monotone: any pair using a merged symbol ranks after the merge
    // that created it (the class the indexed walk is exact for)
    val created = merges.zipWithIndex.groupBy { case ((l, r), _) => l + r }
      .map { case (s, v) => s -> v.map(_._2).min }
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      created.get(l).foreach(cl => assert(cl < i, s"rank $i left '$l'"))
      created.get(r).foreach(cr => assert(cr < i, s"rank $i right '$r'"))
    }
  }

  test("saveMerges/loadMerges round-trip, including space and '#' symbols") {
    import graft.functions.Bpe
    val merges = Seq(" " -> "t", "a" -> "b", "#" -> "#", " t" -> "ab")
    val f = java.io.File.createTempFile("merges_rt", ".txt")
    f.deleteOnExit()
    Bpe.saveMerges(f.getAbsolutePath, merges)
    assert(Bpe.loadMerges(f.getAbsolutePath) === merges)
    // the written form is the standard alphabet: space appears as Ġ
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    assert(text.startsWith("#version"))
    assert(text.contains("Ġ t"))
  }

  test("bpeTokenIds: canonical merges-derived numbering; length always" +
      " equals the token count") {
    import graft.functions.{Bpe, TextFunctions}
    import graft.operators.TextAnalysis
    def ids(text: String): Seq[Int] =
      Seq(Tuple1(text)).toDF("t")
        .select(TextFunctions.bpeTokenIds(col("t"), Bpe.fixtureMerges))
        .collect()(0).getSeq[Int](0)
    // pieces "abc" / " ab" / " x": abc=257, ab=256, bytes elsewhere
    assert(ids("abc ab x") === Seq(257, 32, 256, 32, 120))
    assert(ids("") === Seq.empty)
    assert(ids("zzz") === Seq(122, 122, 122))
    // |ids| == token count on a mixed random sample
    val rnd = new scala.util.Random(5)
    val texts = (0L until 40L).map(i => (i,
      (0 until rnd.nextInt(40)).map(_ => "abc x é,1".charAt(
        rnd.nextInt(9))).mkString))
    val df = texts.toDF("doc_id", "text")
    val n = TextAnalysis.tokenCountsBpe(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    TextAnalysis.tokenIdsBpe(df, "doc_id", "text").collect().foreach { r =>
      assert(r.getSeq[Int](1).length.toLong === n(r.getLong(0)))
    }
  }

  test("materializePacks: boundary-splitting gather — full packs carry" +
      " exactly seqTokens ids, the bucket stream reassembles the docs" +
      " in start order, total ids conserved") {
    import graft.operators.Sampling
    val docs = Seq(
      (1L, Seq(11, 12, 13)),
      (2L, Seq(21, 22, 23, 24)),
      (3L, Seq(31, 32)),
      (4L, Seq(41, 42, 43, 44, 45, 46, 47))).toDF("doc_id", "token_ids")
    val counts = docs.select(col("doc_id"),
      size(col("token_ids")).cast("long").as("n_tokens"))
    val packed = Sampling.packSequences(counts, "doc_id", "n_tokens",
      seqTokens = 5L, nBuckets = 1)
    val mat = Sampling.materializePacks(packed, docs, "doc_id", "n_tokens",
      "token_ids", seqTokens = 5L)
      .collect().sortBy(r => r.getLong(1))
    // 16 tokens at L=5 -> packs of 5,5,5,1; every non-final pack full
    assert(mat.map(_.getLong(2)).toSeq === Seq(5L, 5L, 5L, 1L))
    assert(mat.map(r => r.getLong(1)).toSeq === Seq(0L, 1L, 2L, 3L))
    // the concatenated bucket stream equals the docs' ids concatenated
    // in start-address order — boundary splits leave no gap, dup, or
    // reorder
    val stream = mat.flatMap(_.getSeq[Int](3)).toSeq
    val order = packed.collect()
      .map(r => (r.getLong(4) + r.getLong(3) * 5L, r.getLong(0)))
      .sortBy(_._1).map(_._2)
    val idsByDoc = docs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(stream === order.flatMap(idsByDoc).toSeq)
    assert(stream.length === 16)
  }

  test("bigramSurprisal: same unigram content, different transitions —" +
      " the shuffled doc scores strictly higher; sub-2-word docs omitted") {
    import graft.operators.TextAnalysis
    // docs 1-4 establish (x,y)/(y,x) as the common transitions; doc 5
    // has identical unigram content but rare (x,x)/(y,y) transitions
    val docs = Seq(
      (1L, "x y x y x y"), (2L, "x y x y x y"), (3L, "y x y x y x"),
      (4L, "x y x y x y"), (5L, "x x x y y y"), (6L, "solo")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!out.contains(6L))
    assert(out(5L) > out(1L),
      s"shuffled ${out(5L)} should exceed fluent ${out(1L)}")
    // a unigram model cannot separate docs 1 and 5 (same word multiset)
    val uni = TextAnalysis.unigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(uni(1L) - uni(5L)) < 1e-9)
  }

  test("dedupSubstrings: cross-doc repeated spans removed keeping the" +
      " first occurrence; exact copies empty out; short/empty docs pass") {
    import graft.operators.Dedup
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val docs = Seq(
      (1L, s"one two $shared three four five six"),
      (2L, s"seven eight nine $shared ten eleven twelve thirteen"),
      (3L, "unique words only here nothing repeats anywhere at all truly"),
      (4L, "unique words only here nothing repeats anywhere at all truly"),
      (5L, ""),
      (6L, "tiny doc")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSubstrings(docs, "doc_id", "text", spanWords = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 is the first occurrence of the shared 9-word span: intact
    assert(out(1L) === ((s"one two $shared three four five six", 15L, 0L)))
    // doc 2 loses exactly the 9 shared words (every word of a >=k run
    // is covered by an all-inside k-gram), keeps its own 7
    assert(out(2L) ===
      (("seven eight nine ten eleven twelve thirteen", 7L, 9L)))
    // docs 3/4 are exact copies: 3 (lower id) survives intact, 4 empties
    assert(out(3L)._2 === 10L && out(3L)._3 === 0L)
    assert(out(4L) === (("", 0L, 10L)))
    // empty and sub-spanWords docs pass through
    assert(out(5L) === (("", 0L, 0L)))
    assert(out(6L) === (("tiny doc", 2L, 0L)))
  }

  test("decontaminateExact: one shared 13-gram drops a doc, a 12-word" +
      " overlap survives, and sub-n docs are never dropped") {
    val snip13 = "one two three four five six seven eight nine ten" +
      " eleven twelve thirteen"
    val snip12 = snip13.split(" ").take(12).mkString(" ")
    val train = Seq(
      (1L, s"intro words here $snip13 closing remark"),
      (2L, s"intro words here $snip12 different tail words"),
      (3L, "totally unrelated content that matches nothing in the" +
        " probe set at all"),
      (4L, snip12) // 12 words: below n, no grams, never dropped
    ).toDF("doc_id", "text")
    val probe = Seq(Tuple1(s"question stem $snip13 answer options"))
      .toDF("text")
    val kept = Dedup.decontaminateExact(train, probe, "doc_id", "text",
      n = 13).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L, 4L))
  }

  test("langIdTrain/langIdScore: NB trigram profiles classify held-out" +
      " docs of genuinely distinct scripts with full accuracy") {
    import graft.operators.TextAnalysis
    val en = (0 until 20).map(i =>
      (s"the quick brown fox jumps over the lazy dog number $i and runs on", "en"))
    val zh = (0 until 20).map(i =>
      (s"机器学习模型需要大量高质量的训练数据来提升下游任务效果第${i}批次", "zh"))
    val es = (0 until 20).map(i =>
      (s"el rápido zorro marrón salta sobre el perro perezoso número $i según año", "es"))
    val all = (en ++ zh ++ es).zipWithIndex
      .map { case ((t, l), i) => (i.toLong, t, l) }
    val train = all.filter(_._1 % 2 == 0).toDF("doc_id", "text", "lang")
    val heldOut = all.filter(_._1 % 2 == 1).toDF("doc_id", "text", "lang")
    val model = TextAnalysis.langIdTrain(train, "text", "lang", topK = 256)
    val pred = TextAnalysis.langIdScore(heldOut, "doc_id", "text", model)
      .groupBy(col("doc_id"))
      .agg(max_by(col("lang"), col("score")).as("pred"))
    val correct = pred.join(heldOut, Seq("doc_id"))
      .filter(col("pred") === col("lang")).count()
    assert(correct === heldOut.count())
  }

  test("langIdSegments: mixed-language documents get per-paragraph" +
      " labels and a majority doc label; blank paragraphs drop") {
    import graft.operators.TextAnalysis
    val en = (0 until 20).map(i =>
      (s"the quick brown fox jumps over the lazy dog number $i and runs on", "en"))
    val zh = (0 until 20).map(i =>
      (s"机器学习模型需要大量高质量的训练数据来提升下游任务效果第${i}批次", "zh"))
    val train = (en ++ zh).zipWithIndex
      .map { case ((t, l), i) => (i.toLong, t, l) }
      .toDF("doc_id", "text", "lang")
    val model = TextAnalysis.langIdTrain(train, "text", "lang", topK = 256)
    // doc 100: two English paragraphs, one Chinese, one blank line
    val mixed = Seq((100L,
      "the quick brown fox jumps over the lazy dog again\n" +
        "机器学习模型需要大量高质量的训练数据来提升效果\n\n" +
        "another english paragraph about the lazy dog and the fox"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.langIdSegments(mixed, "doc_id", "text", model)
      .collect().map(r => r.getInt(1) -> (r.getString(2), r.getString(3)))
      .toMap
    assert(out.keySet === Set(0, 1, 3), "blank paragraph (idx 2) must drop")
    assert(out(0) === (("en", "en")))
    assert(out(1) === (("zh", "en")), "minority paragraph keeps its own" +
      " label under the majority doc label")
    assert(out(3) === (("en", "en")))
  }

  test("Classifier: full-batch GD fully separates planted junk from" +
      " clean docs, retraining is deterministic, and a token-less doc" +
      " scores sigmoid(bias)") {
    import graft.operators.Classifier
    val clean = (0L until 40L).map(i =>
      (i, s"normal prose number $i about weather and food today", 0.0))
    val junk = (40L until 60L).map(i =>
      (i, s"normal prose number $i about weather and food today" +
        " spamspam junkjunk spamspam junkjunk", 1.0))
    val d = (clean ++ junk).toDF("doc_id", "text", "label")
    val m = Classifier.train(d, "doc_id", "text", "label",
      buckets = 32, rounds = 30, lr = 8.0)
    val scores = Classifier.score(d, "doc_id", "text", m).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val js = (40L until 60L).map(scores)
    val cs = (0L until 40L).map(scores)
    assert(js.min > cs.max,
      s"junk scores ${js.min} must rank above clean ${cs.max}")
    // same corpus, same params -> same weights (all sums are
    // deterministic double aggregations)
    val m2 = Classifier.train(d, "doc_id", "text", "label",
      buckets = 32, rounds = 30, lr = 8.0)
    m.weights.zip(m2.weights).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9) }
    // token-less document: the bag contributes nothing, score is
    // sigmoid(bias) exactly
    val se = Classifier.score(Seq((0L, "")).toDF("doc_id", "text"),
      "doc_id", "text", m).collect().head.getDouble(1)
    assert(math.abs(se - 1.0 / (1.0 + math.exp(-m.bias))) < 1e-12)
    // HashedBagScoreExpr is public API: a words array WITH null
    // elements must not NPE — nulls carry no feature and stay out of
    // the averaging denominator, so (w1, null, w2) === (w1, w2)
    import org.apache.spark.sql.GraftColumnCompat._
    def bag(c: org.apache.spark.sql.Column) = toColumn(
      graft.functions.HashedBagScoreExpr(
        toExpression(c), m.weights.toSeq, m.buckets))
    val withNull = Seq(Seq(Some("spamspam"), None, Some("junkjunk")))
      .toDF("ws").select(bag(col("ws"))).collect().head.getDouble(0)
    val without = Seq(Seq("spamspam", "junkjunk"))
      .toDF("ws").select(bag(col("ws"))).collect().head.getDouble(0)
    assert(math.abs(withNull - without) < 1e-15)
    // all-null array behaves like the empty bag: sigmoid(bias)
    val allNull = Seq(Seq[Option[String]](None, None))
      .toDF("ws").select(bag(col("ws"))).collect().head.getDouble(0)
    assert(math.abs(allNull - 1.0 / (1.0 + math.exp(-m.bias))) < 1e-15)
  }

  test("Packs.writePacks/loadPacks: byte-exact roundtrip, long-typed" +
      " bucket column, bounded file count, pinned fingerprint") {
    import graft.sources.Packs
    val packs = Seq(
      (0L, 0L, 3L, Seq(1, 2, 3)),
      (0L, 1L, 2L, Seq(4, 5)),
      (1L, 0L, 1L, Seq(6)),
      (1L, 5L, 2L, Seq(7, 8)),
      (2L, 2L, 2L, Seq(9, 10)),
      (3L, 7L, 4L, Seq(11, 12, 13, 14))
    ).toDF("pack_bucket", "pack_id", "n_tokens", "token_ids")
    val path = "/tmp/graft_packs_spec"
    val fp = graft.functions.Bpe.mergesFingerprint(
      graft.functions.Bpe.fixtureMerges)
    // the documented SQL re-derivation: md5('a b' || \n || 'ab c' || \n)
    assert(fp === "0a3dcaae9fbee11d1449726146e3173d")
    Packs.writePacks(packs, path, seqTokens = 16L, nBuckets = 4,
      mergesFingerprint = fp, numFiles = 8)
    val loaded = Packs.loadPacks(spark, path)
    assert(loaded.seqTokens === 16L && loaded.nBuckets === 4 &&
      loaded.mergesFingerprint === fp)
    // partition-column inference would narrow pack_bucket to int;
    // loadPacks must restore the written LONG
    assert(loaded.packs.schema("pack_bucket").dataType ===
      org.apache.spark.sql.types.LongType)
    val got = loaded.packs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Int](3))).toSet
    val want = packs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Int](3))).toSet
    assert(got === want)
    // file-count discipline: data files bounded by ~numFiles
    def parquetFiles(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles.map(parquetFiles).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    assert(parquetFiles(new java.io.File(s"$path/packs")) <= 8)
    // nBuckets > numFiles makes the file bound unsatisfiable (dir
    // partitioning floors at one file per bucket): rejected up front,
    // BEFORE the meta tombstone — the committed set stays loadable
    intercept[IllegalArgumentException] {
      Packs.writePacks(packs, path, seqTokens = 16L, nBuckets = 16,
        mergesFingerprint = "x", numFiles = 8)
    }
    val kept = Packs.loadPacks(spark, path)
    assert(kept.mergesFingerprint === fp && kept.nBuckets === 4)
    assert(kept.packs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Int](3))).toSet === want)
  }

  test("Classifier ngrams=2: bigram features separate a word-ORDER" +
      " corpus the unigram bag provably cannot") {
    import graft.operators.Classifier
    // per-class texts share an IDENTICAL unigram multiset — only the
    // adjacency differs — so the unigram feature space collapses both
    // classes onto the same vector and no weights can rank them
    val neg = (0L until 30L).map(i =>
      (i, s"filler$i alpha beta alpha beta alpha beta", 0.0))
    val pos = (30L until 60L).map(i =>
      (i, s"filler${i - 30} beta alpha beta alpha beta alpha", 1.0))
    val d = (neg ++ pos).toDF("doc_id", "text", "label")
    val uni = Classifier.train(d, "doc_id", "text", "label",
      buckets = 32, rounds = 30, lr = 8.0)
    val uniScores = Classifier.score(d, "doc_id", "text", uni)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // pairwise: same filler => same unigram bag => same score, exactly
    (0L until 30L).foreach { i =>
      assert(math.abs(uniScores(i) - uniScores(i + 30)) < 1e-12,
        s"unigram bags of $i/${i + 30} are identical; scores must be") }
    val bi = Classifier.train(d, "doc_id", "text", "label",
      buckets = 32, rounds = 30, lr = 8.0, ngrams = 2)
    assert(bi.ngrams === 2)
    val biScores = Classifier.score(d, "doc_id", "text", bi)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ps = (30L until 60L).map(biScores)
    val ns = (0L until 30L).map(biScores)
    assert(ps.min > ns.max,
      s"bigram model must fully separate: pos.min=${ps.min} <= neg.max=${ns.max}")
  }

  test("DedupIndex: append dedups a batch against the frozen index" +
      " (exact + near-dup, arrival-order priority), telescopes across" +
      " appends, and remembers dropped docs' hashes") {
    import graft.sources.DedupIndex
    val base = "the quick brown fox jumps over the lazy dog while" +
      " cold rain falls on the quiet grey town every single evening"
    val other = "completely different payload discussing catalyst" +
      " planning shuffle exchanges broadcast thresholds and adaptive" +
      " execution behavior under heavy partition skew at scale"
    val corpus = Seq(
      (0L, base),                 // survivor (owner of the base family)
      (1L, base.toUpperCase),     // exact-norm dup of 0
      (2L, other)                 // survivor
    ).toDF("doc_id", "text")
    val b1 = Seq(
      (10L, base + " tailone tailtwo"),   // near-dup of corpus 0 -> LSH drop
      (11L, "  " + base + "   "),         // exact-norm dup of corpus 0
      (12L, "an entirely new document describing minhash banding and" +
        " jaccard similarity estimation for large scale training data" +
        " deduplication pipelines running on spark"), // survivor
      (13L, "an entirely new document describing minhash banding and" +
        " jaccard similarity estimation for large scale training data" +
        " deduplication pipelines running on spark with extras") // near 12
    ).toDF("doc_id", "text")
    val b2 = Seq(
      (20L, base + " TAILONE  tailtwo"),  // exact-norm dup of DROPPED 10:
                                          // hashes/ must remember it
      (21L, base + " tailone tailtwo tailthree"), // near family -> drop
      (22L, "totally fresh content about streaming watermarks state" +
        " stores and event time session windows in structured" +
        " streaming jobs")                // survivor
    ).toDF("doc_id", "text")
    val path = "/tmp/graft_dedupidx_spec"
    DedupIndex.build(corpus, "doc_id", "text", path)
    val s1 = DedupIndex.append(spark, path, b1, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(s1 === Set(12L),
      s"batch1: 10 near-dups 0, 11 exact-dups 0, 13 near-dups 12; got $s1")
    val s2 = DedupIndex.append(spark, path, b2, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    // 20's hash equals DROPPED 10's normalized hash — stage 1 must
    // still drop it (hashes/ keeps every hash ever seen); 21 is near
    // the base family; 22 is fresh
    assert(s2 === Set(22L), s"batch2 survivors: got $s2")
    // telescoping: one combined append over a rebuilt index emits
    // exactly s1 ++ s2 (same arrival priority: lower id = earlier)
    DedupIndex.build(corpus, "doc_id", "text", path)
    val sBoth = DedupIndex.append(spark, path, b1.union(b2),
      "doc_id", "text").collect().map(_.getLong(0)).toSet
    assert(sBoth === (s1 ++ s2))
    // the survivors frame is pinned pre-append: re-collecting after the
    // index absorbed the batch must not re-dedup it against itself
    DedupIndex.build(corpus, "doc_id", "text", path)
    val sv = DedupIndex.append(spark, path, b1, "doc_id", "text")
    assert(sv.collect().map(_.getLong(0)).toSet === Set(12L))
    assert(sv.collect().map(_.getLong(0)).toSet === Set(12L))
  }

  test("Packs rewrite atomicity: the old meta is tombstoned before" +
      " packs/ is touched, so a mid-rewrite crash cannot pair stale" +
      " meta with rewritten token ids") {
    import graft.sources.Packs
    val packs = Seq((0L, 0L, 2L, Seq(1, 2)), (1L, 1L, 1L, Seq(3)))
      .toDF("pack_bucket", "pack_id", "n_tokens", "token_ids")
    val path = "/tmp/graft_packs_atomic_spec"
    Packs.writePacks(packs, path, seqTokens = 8L, nBuckets = 2,
      mergesFingerprint = "fpA", numFiles = 4)
    assert(Packs.loadPacks(spark, path).mergesFingerprint === "fpA")
    // crash the rewrite MID-WRITE for real: a poisoned column makes
    // the packs overwrite job throw after the meta tombstone. With the
    // tombstone order the directory must now REFUSE to load (no meta),
    // not serve fpA meta over partially-rewritten token ids.
    val poisoned = packs.withColumn("n_tokens",
      org.apache.spark.sql.functions.raise_error(lit("boom")).cast("long"))
    intercept[Exception] {
      Packs.writePacks(poisoned, path, seqTokens = 8L, nBuckets = 2,
        mergesFingerprint = "fpB", numFiles = 4)
    }
    intercept[Exception] { Packs.loadPacks(spark, path) }
    // the completed rewrite commits the NEW fingerprint
    Packs.writePacks(packs, path, seqTokens = 8L, nBuckets = 2,
      mergesFingerprint = "fpB", numFiles = 4)
    assert(Packs.loadPacks(spark, path).mergesFingerprint === "fpB")
  }

  test("dedupSubstringsBpe: repeated CJK span removed at token level" +
      " keeping the corpus-first occurrence; the whitespace word form" +
      " provably finds nothing on the same docs") {
    // 22 CJK chars = 66 UTF-8 bytes = 66 byte-level fixture tokens (the
    // a/b/c merges never fire on CJK bytes), so spanTokens=60 grams fit
    // entirely inside the shared run while every boundary gram differs
    val shared = "深度学习模型的训练数据需要大规模去重处理流程排查"
    val sharedToks = shared.getBytes("UTF-8").length.toLong
    assert(sharedToks >= 60L)
    val d1 = "前文" + shared + "后记"
    val d2head = "另外的开头"
    val d2tail = "不同的结尾"
    val d3 = "完全不同的内容没有任何重复片段存在于此处真的"
    val d = Seq(
      (1L, d1), (2L, d2head + shared + d2tail), (3L, d3)
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSubstringsBpe(d, "doc_id", "text", spanTokens = 60)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 holds the corpus-first occurrence of every shared gram: intact
    assert(out(1L) === ((d1, d1.getBytes("UTF-8").length.toLong, 0L)))
    // doc 2 loses exactly the 66 shared tokens (interior grams cover the
    // whole run; boundary grams include differing context bytes)
    assert(out(2L) === ((d2head + d2tail,
      (d2head + d2tail).getBytes("UTF-8").length.toLong, sharedToks)))
    assert(out(3L) === ((d3, d3.getBytes("UTF-8").length.toLong, 0L)))
    // the word form sees each unsegmented doc as ONE whitespace token,
    // so even spanWords=2 grams cannot exist: zero drops everywhere
    val word = Dedup.dedupSubstrings(d, "doc_id", "text", spanWords = 2)
      .collect()
    assert(word.forall(_.getLong(3) === 0L))
  }

  test("Pipeline.curate substringDedup=bpe: a planted unsegmented repeat" +
      " is cut before split assignment; an exact copy fully empties in" +
      " the substring stage and drops") {
    val shared = "深度学习模型的训练数据需要大规模去重处理流程排查"
    val d1 = "前文" + shared + "后记"
    val d = Seq(
      (1L, d1),
      (2L, "另外的开头" + shared + "不同的结尾"),
      (3L, d1), // exact copy: every gram is non-first -> emptied -> drop
      (4L, "完全不同的内容没有任何重复片段存在于此处真的")
    ).toDF("doc_id", "text")
    val out = graft.operators.Pipeline.curate(d, "doc_id", "text",
      minChars = 1, substringDedup = "bpe", substringSpan = 60)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text")).toMap
    assert(out.keySet === Set(1L, 2L, 4L))
    assert(out(1L) === d1)
    assert(out(2L) === "另外的开头" + "不同的结尾")
  }

  test("bpeTokenRemove contracts: null ids yields ('',0,0); null starts" +
      " keeps everything; overlapping spans merge; a mid-character cut" +
      " keeps the surviving tokens' bytes verbatim (invalid UTF-8 seam)") {
    import graft.functions.{Bpe, TextFunctions}
    val m = Bpe.fixtureMerges
    def run(text: String, starts: org.apache.spark.sql.Column, k: Int) =
      Seq(Tuple1(text)).toDF("text")
        .select(TextFunctions.bpeTokenRemove(
          TextFunctions.bpeTokenIds(col("text"), m), starts, k, m).as("r"))
        .select(col("r.text_kept"), col("r.n_tokens_kept"),
          col("r.n_tokens_dropped"),
          md5(col("r.text_kept").cast("binary")).as("h"))
        .collect().head
    // null text upstream -> null ids -> ('', 0, 0)
    val nr = run(null, lit(null).cast("array<int>"), 2)
    assert(nr.getString(0) === "" && nr.getLong(1) === 0L &&
      nr.getLong(2) === 0L)
    // null starts = "no removed grams": all tokens kept, text verbatim
    // ("abcabx" tokenizes [257, 256, 'x'] under the fixture vocab)
    val keep = run("abcabx", lit(null).cast("array<int>"), 2)
    assert(keep.getString(0) === "abcabx" && keep.getLong(1) === 3L &&
      keep.getLong(2) === 0L)
    // overlapping spans merge positionally: starts [0,1] with k=3 over
    // 5 single-byte tokens cover tokens 0..3, keeping only the last
    val ov = run("hello", typedLit(Seq(0, 1)), 3)
    assert(ov.getString(0) === "o" && ov.getLong(1) === 1L &&
      ov.getLong(2) === 4L)
    // mid-character cut: "中文" is 6 byte-level tokens; removing the
    // k=2 gram at token 1 cuts bytes 1-2 (the tail of 中), keeping
    // byte 0 + the 3 bytes of 文 — an invalid UTF-8 seam carried
    // through verbatim (asserted on the raw bytes via md5-over-binary,
    // since a driver-side String decode would mangle the seam)
    val bytes = "中文".getBytes("UTF-8")
    val expectKept = Array(bytes(0), bytes(3), bytes(4), bytes(5))
    val expectHash = java.security.MessageDigest.getInstance("MD5")
      .digest(expectKept).map("%02x".format(_)).mkString
    val seam = run("中文", typedLit(Seq(1)), 2)
    assert(seam.getString(3) === expectHash)
    assert(seam.getLong(1) === 4L && seam.getLong(2) === 2L)
    // scrubSeams: the same cut with scrubbing drops the orphaned lead
    // byte of 中, leaving exactly 文 — valid UTF-8, same TOKEN counts
    // (the scrub removes bytes of partially-removed characters, never
    // surviving tokens)
    def runScrub(text: String, starts: org.apache.spark.sql.Column, k: Int) =
      Seq(Tuple1(text)).toDF("text")
        .select(TextFunctions.bpeTokenRemove(
          TextFunctions.bpeTokenIds(col("text"), m), starts, k, m,
          scrubSeams = true).as("r"))
        .select(col("r.text_kept"), col("r.n_tokens_kept"),
          col("r.n_tokens_dropped"))
        .collect().head
    val scrubbed = runScrub("中文", typedLit(Seq(1)), 2)
    assert(scrubbed.getString(0) === "文")
    assert(scrubbed.getLong(1) === 4L && scrubbed.getLong(2) === 2L)
    // identity on cut-free output: no seams, nothing scrubbed
    val clean = runScrub("abcabx", lit(null).cast("array<int>"), 2)
    assert(clean.getString(0) === "abcabx")
  }

  test("hot-bucket cap: a 10k-copy viral family produces zero pairs" +
      " while a below-cap family still pairs fully") {
    // 10k identical docs = one (band, bucket) cell per band holding 10k
    // rows; uncapped this is a ~50M-pair self-join task. The cap drops
    // those buckets BEFORE the join, so the query completes with pair
    // output bounded by the below-cap families only.
    val viral = spark.range(10000)
      .select(col("id").as("doc_id"),
        lit("the same viral boilerplate page text everywhere").as("text"))
    val small = spark.range(10000, 10010)
      .select(col("id").as("doc_id"),
        lit("a rare snippet shared by ten documents only").as("text"))
    val corpus = viral.unionAll(small)
    val capped = Dedup.minhashLshPairs(corpus, "doc_id", "text",
      maxBucketSize = 100).collect()
    assert(capped.length === 45) // C(10,2) from the small family only
    assert(capped.forall(r => r.getLong(0) >= 10000L && r.getLong(1) >= 10000L))
    // maxBucketSize <= 0 disables the cap (pre-r10 behavior): spot-check
    // on a corpus small enough to enumerate
    val tiny = spark.range(60)
      .select(col("id").as("doc_id"), lit("sixty identical docs").as("text"))
    assert(Dedup.minhashLshPairs(tiny, "doc_id", "text", maxBucketSize = 0)
      .count() === 60L * 59 / 2)
    assert(Dedup.minhashLshPairs(tiny, "doc_id", "text", maxBucketSize = 50)
      .count() === 0L)
    // simhash band join honors the same cap
    assert(Dedup.simhashNearDupPairs(tiny, "doc_id", "text",
      maxBucketSize = 50).count() === 0L)
  }

  test("char LSH pairs: finds exact dups; mod-sampling keeps them and" +
      " drops empty-sample docs instead of false-bucketing them") {
    val pairs = Dedup.minhashLshPairsChar(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
    // sampled variant: exact dups still collide on every surviving band
    val sampled = Dedup.minhashLshPairsChar(docs, "doc_id", "text",
      sampleMod = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sampled.contains((0L, 3L)))
    // two DIFFERENT 5-char docs whose single shingle fails the mod
    // selection ('e' = 101 ≡ 1 mod 4): empty sample → NO band rows —
    // an empty-signature bucket would falsely pair them
    val d2 = Seq((10L, "abcde"), (11L, "xyzqe")).toDF("doc_id", "text")
    assert(Dedup.minhashLshPairsChar(d2, "doc_id", "text", sampleMod = 4)
      .count() === 0L)
    // texts shorter than charN keep their whole-text shingle even under
    // sampling ('c' = 99 fails mod 4): identical tiny docs still pair
    val d3 = Seq((12L, "abc"), (13L, "abc")).toDF("doc_id", "text")
    assert(Dedup.minhashLshPairsChar(d3, "doc_id", "text", sampleMod = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((12L, 13L)))
  }

  test("simhash: exact dups equal, near-dups close in Hamming distance") {
    val sh = Dedup.simhashFingerprints(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) === sh(3L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(0L), sh(1L)) <= hamming(sh(0L), sh(2L)))
  }

  test("ngram jaccard pairs: dup pair scores 1.0") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(pairs((0L, 3L)) === 1.0)
  }

  test("ngram jaccard pairs: k-min anchors find near-dups whose minimum" +
      " shingle differs; multi-anchor pairs emitted once") {
    // first word differs, so the lexicographic-min shingle of each doc is
    // its own ("aardvark ..." vs "abacus ...") — single-min-shingle
    // blocking can never pair them; 4 of 5 shingles are shared, J = 2/3
    val d = Seq(
      (0L, "aardvark common tail one two three four"),
      (1L, "abacus common tail one two three four")
    ).toDF("doc_id", "text")
    import graft.functions.TextFunctions.shingles
    val mins = d.select(array_min(shingles(col("text"), 3))).as[String]
      .collect()
    assert(mins(0) !== mins(1)) // the scenario the old blocking missed
    val rows = Dedup.ngramJaccardPairs(d, "doc_id", "text").collect()
    assert(rows.length === 1) // found, and exactly once (anchor ownership)
    assert(math.abs(rows.head.getAs[Double]("jaccard") - 0.666667) < 1e-6)
  }

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),
    (2L, Array(0.0f, 1.0f, 0.0f), 0),
    (3L, Array(-1.0f, 0.0f, 0.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("knn brute force: nearest neighbor and determinism") {
    val out = Similarity.knnBruteForce(
      vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", k = 2)
      .orderBy("knn_rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L))
    assert(out.head.getAs[Double]("cos_sim") > 0.99)
  }

  test("knn brute force enforces the broadcast-small query contract") {
    val big = Seq.tabulate(10)(i => (i.toLong, Array(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.knnBruteForce(big, vecs, "vec_id", "embedding", k = 1,
        maxQueries = 5)
    }
    assert(e.getMessage.contains("maxQueries"))
    // at the bound it still runs
    assert(Similarity.knnBruteForce(big.limit(5), vecs, "vec_id",
      "embedding", k = 1, maxQueries = 5).count() > 0)
  }

  test("cosine pairs within block") {
    val pairs = Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding",
      "label", threshold = 0.9).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((0L, 1L)))
  }

  test("ann lsh multiprobe: recall vs brute force beats single bucket") {
    val n = 60; val dim = 8
    val df = (0 until n).map { i =>
      (i.toLong,
        Array.tabulate(dim)(d => ((((i * 31 + d * 17) % 19) - 9) / 9.0f)))
    }.toDF("vec_id", "embedding")
    def pairs(r: org.apache.spark.sql.DataFrame) =
      r.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val truth = pairs(
      Similarity.knnBruteForce(df, df, "vec_id", "embedding", k = 3))
    val single = pairs(
      Similarity.annLshTopK(df, "vec_id", "embedding", k = 3, dim = dim))
    val multi = pairs(Similarity.annLshMultiprobe(
      df, "vec_id", "embedding", k = 3, dim = dim, probes = 3))
    val rs = (single & truth).size
    val rm = (multi & truth).size
    // candidates are a superset per query, so recall is monotone — and
    // on this fixture probing the 2 lowest-margin planes visibly lifts it
    assert(rm >= rs)
    assert(rm > rs)
  }

  test("lsh buckets: opposite vectors land in different buckets") {
    val b = Similarity.lshBuckets(vecs, "vec_id", "embedding", planes = 8, dim = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) !== b(3L)) // sign-flipped vector flips every plane bit
  }

  test("text stats and token counts are consistent") {
    val st = TextAnalysis.stats(docs, "doc_id", "text")
      .filter($"doc_id" === 0).collect().head
    assert(st.getAs[Int]("n_words") === 9)
    assert(st.getAs[Double]("stopword_ratio") > 0.2) // two 'the'
    val tc = TextAnalysis.tokenCounts(docs, "doc_id", "text")
      .filter($"doc_id" === 0).collect().head
    assert(tc.getAs[Int]("n_ws_tokens") === 9)
    assert(tc.getAs[Int]("n_re_tokens") === 9)
  }

  test("langId picks the language with most stopword hits") {
    val d = Seq(
      (0L, "the cat is on the mat"),
      (1L, "der hund und die katze"),
      (2L, "xyzzy plugh")).toDF("doc_id", "text")
    val out = TextAnalysis.langId(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("pred_lang")).toMap
    assert(out === Map(0L -> "en", 1L -> "de", 2L -> "und"))
  }

  test("charShingles: code-point n-grams work where word shingles" +
      " degenerate (CJK); char fingerprints separate near-identical docs") {
    import graft.functions.TextFunctions.{charShingles, shingles}
    // no whitespace: the WORD shingle set is one whole-line token
    val cjk = "日本語のテキスト"
    val d = Seq((0L, cjk), (1L, cjk), (2L, cjk.dropRight(1) + "本"))
      .toDF("doc_id", "text")
    val wordCount = d.select(size(shingles(col("text"), 3)))
      .as[Int].collect()
    assert(wordCount.forall(_ === 1)) // word shingles blind on CJK
    val n = d.select(size(charShingles(col("text"), 3)).as("n"))
      .as[Int].collect()
    assert(n(0) === 6) // 8 chars -> 6 distinct 3-grams
    val fp = TextAnalysis.charFingerprints(d, "doc_id", "text", charN = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(0L) === fp(1L))   // identical text, same fingerprint
    assert(fp(0L) !== fp(2L))   // one-char difference is visible
    // shorter than n: single whole-text shingle, like the word form
    assert(d.limit(1).select(charShingles(lit("ab"), 3)).collect()
      .head.getSeq[String](0) === Seq("ab"))
  }

  test("fingerprints: equal for dups, distinct otherwise") {
    val fp = TextAnalysis.fingerprints(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(0L) === fp(3L))
    assert(fp(0L) !== fp(1L))
  }

  test("multimodal pack + decode keeps non-image rows with null dims") {
    val packed = Multimodal.pack(docs, "doc_id", "text", "image")
    assert(packed.schema("payload").dataType.typeName === "binary")
    val meta = packed.select("meta.*").collect().head
    assert(meta.getAs[Long]("byte_len") > 0)
    // text bytes are no image container: every row survives, dims null
    val decoded = Multimodal.decodeImage(packed, "doc_id")
    assert(decoded.count() === docs.count())
    assert(decoded.filter(col("format").isNotNull).count() === 0L)
  }

  private def hx(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray

  test("image header parse: png/jpeg/gif/bmp dims recovered byte-exactly") {
    import graft.functions.ImageHeaders.dims
    val png = dims(hx(
      "89504E470D0A1A0A 0000000D 49484452 00000280 000001E0 0806000000"))
    assert(png.getUTF8String(0).toString === "png")
    assert((png.getInt(1), png.getInt(2)) === ((640, 480)))
    val jpeg = dims(hx("FFD8 FFE00010 4A46494600 0101 00 0001 0001 00 00" +
      " FFC00011 08 01E0 0280 03 011100 021101 031101"))
    assert(jpeg.getUTF8String(0).toString === "jpeg")
    assert((jpeg.getInt(1), jpeg.getInt(2)) === ((640, 480)))
    val gif = dims(hx("474946383961 8002 E001 00 00 00"))
    assert(gif.getUTF8String(0).toString === "gif")
    assert((gif.getInt(1), gif.getInt(2)) === ((640, 480)))
    val bmp = dims(hx("424D 00000000 0000 0000 36000000 28000000" +
      " 80020000 E0010000 0100 1800"))
    assert(bmp.getUTF8String(0).toString === "bmp")
    assert((bmp.getInt(1), bmp.getInt(2)) === ((640, 480)))
    // top-down BMP stores negative height: dims come back positive
    val bmpNeg = dims(hx("424D 00000000 0000 0000 36000000 28000000" +
      " 80020000 20FEFFFF 0100 1800"))
    assert((bmpNeg.getInt(1), bmpNeg.getInt(2)) === ((640, 480)))
  }

  test("image header parse: corrupt/truncated payloads yield null, not throw") {
    import graft.functions.ImageHeaders.dims
    assert(dims(null) === null)
    assert(dims(Array.emptyByteArray) === null)
    assert(dims(hx("89504E47")) === null) // truncated PNG signature
    assert(dims(hx("89504E470D0A1A0A 0000000D 58585858" + // not IHDR
      " 00000280 000001E0 0806000000")) === null)
    assert(dims(hx("89504E470D0A1A0A 0000000D 49484452 00000000" +
      " 000001E0 0806000000")) === null) // zero width
    assert(dims(hx("FFD8 FFE00010 4A46494600 0101 00 0001 0001 00 00" +
      " FFD9")) === null) // EOI before any SOF
    assert(dims(hx("FFD8 FFE000")) === null) // truncated mid-segment
    assert(dims(hx("FFD8 00C0")) === null)   // broken marker alignment
    // markers impossible before SOF mean the walk hit corrupt bytes —
    // rejected, even when a bogus segment would land on an FF Cx pair
    assert(dims(hx("FFD8 FFD8" + // spurious second SOI mid-stream
      " FFC00011 08 01E0 0280 03 011100 021101 031101")) === null)
    assert(dims(hx("FFD8 FF00" + // stuffed-byte pseudo-marker
      " FFC00011 08 01E0 0280 03 011100 021101 031101")) === null)
    assert(dims("plain text bytes".getBytes("UTF-8")) === null)
    // through the engine: null input row stays null, no NPE
    val out = Seq(Some(hx("474946383961 0100 0100 000000")), None)
      .toDF("b")
      .select(graft.functions.ImageFunctions.imageDims(col("b")).as("d"))
      .collect()
    assert(out(0).getStruct(0).getString(0) === "gif")
    assert(out(1).isNullAt(0))
  }

  test("frame sampling explodes stride-spaced indices") {
    val out = Multimodal.sampleFrames(docs.limit(1), "doc_id", nFrames = 10, stride = 3)
    assert(out.select("frame_idx").as[Int].collect().toSeq === Seq(0, 3, 6, 9))
  }

  test("sessionize splits on gaps > threshold") {
    val us = 1000L * 1000
    val evs = Seq(
      (1L, 0L * us, 1.0), (1L, 60L * us, 1.0),       // session 1
      (1L, 4000L * 1000 * 1000, 2.0),                 // gap > 30min → session 2
      (2L, 0L * us, 5.0)
    ).toDF("user_id", "ts", "value")
      .withColumn("ts", $"ts" * 1000) // to nanos, as read from parquet
    val out = Events.sessionize(evs, gapNanos = 1800L * 1000 * 1000 * 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(out === Set((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("streaming hourly agg matches batch on static input") {
    val dir = java.nio.file.Files.createTempDirectory("ev").toString
    val us = 1000L * 1000
    Seq((0L, 100L * us * 1000, 1L, "click", 1.0, "{}"),
        (1L, 101L * us * 1000, 1L, "click", 2.0, "{}"),
        (2L, 7200L * us * 1000 * 1000 / 1000, 2L, "view", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)
    val q = Events.streamingHourlyAgg(spark, dir)
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT event_type, n_events FROM hourly_out")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === Set(("click", 2L), ("view", 1L)))
  }

  test("streaming watermark drops events later than the horizon") {
    val dir = java.nio.file.Files.createTempDirectory("late").toString
    val us = 1000L * 1000
    def write(rows: Seq[(Long, Long, Long, String, Double, String)], f: String): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    // batch 1: events up to hour 10 → watermark advances to ~hour 9
    write(Seq(
      (0L, 3600L * us * 1000 * 1, 1L, "a", 1.0, "{}"),
      (1L, 3600L * us * 1000 * 10, 1L, "a", 1.0, "{}")), "b1")
    val q = graft.streaming.Events.streamingHourlyAgg(spark, dir)
      .writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // batch 2: an event at hour 2 — older than watermark (10h - 1h) → dropped;
    // and one at hour 11 — accepted
    write(Seq(
      (2L, 3600L * us * 1000 * 2, 1L, "a", 1.0, "{}"),
      (3L, 3600L * us * 1000 * 11, 1L, "a", 1.0, "{}")), "b2")
    q.processAllAvailable()
    // batch 3: push watermark far forward so hours <= 11 finalize and emit
    write(Seq((4L, 3600L * us * 1000 * 100, 1L, "a", 1.0, "{}")), "b3")
    q.processAllAvailable()
    q.stop()
    val emitted = spark.sql(
      "SELECT hour(hour_start) AS h, n_events FROM wm_out ORDER BY 1")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toList
    // hour 1 and hour 2... hour-2 event arrived AFTER the watermark passed
    // it, so it must NOT appear; hours 1, 10, 11 do.
    assert(emitted.map(_._1).contains(1))
    assert(!emitted.map(_._1).contains(2))
    assert(emitted.map(_._1).count(h => h == 10 || h == 11) === 2)
  }

  test("trainCentroids separates well-clustered vectors") {
    // two tight clusters around (1,0) and (0,1)
    val pts = (0 until 20).map { i =>
      if (i < 10) (i.toLong, Array(1.0f + i * 0.001f, 0.0f))
      else (i.toLong, Array(0.0f, 1.0f + i * 0.001f))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(pts, "vec_id", "embedding", k = 2)
      .collect().map(r => r.getSeq[Double](1)).sortBy(_.head)
    assert(cents.length === 2)
    // one centroid near (0,1), the other near (1,0)
    assert(cents(0)(0) < 0.1 && cents(0)(1) > 0.9)
    assert(cents(1)(0) > 0.9 && cents(1)(1) < 0.1)
    // end-to-end: assignment with trained centroids groups the clusters
    val trained = Similarity.trainCentroids(pts, "vec_id", "embedding", 2)
    val asg = Similarity.ivfAssign(pts, "vec_id", "embedding", trained)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("centroid_id")).toMap
    assert((0L until 10L).map(asg).toSet.size === 1)
    assert((10L until 20L).map(asg).toSet.size === 1)
    assert(asg(0L) !== asg(15L))
  }

  test("connectedComponents: chains collapse to one cluster, " +
      "dropNearDuplicateClusters keeps one survivor per cluster") {
    // chain 1-2, 2-3 (one cluster) + pair 10-11; 20 is untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val kept = graft.operators.Dedup
      .dropNearDuplicateClusters(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).sorted.toSeq
    // greedy pair-drop would also keep exactly {1, 10, 20} here, but on a
    // chain a<b<c it drops b AND c; components keep the cluster minimum
    assert(kept === Seq(1L, 10L, 20L))
    // the distributed label-propagation path (forced past the local
    // union-find threshold) computes the same fixpoint
    val ccLoop = graft.operators.Dedup
      .connectedComponents(pairs, localEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccLoop === cc)
  }

  test("bucketed tables join with zero shuffle exchanges") {
    val wh = java.nio.file.Files.createTempDirectory("bucketed").toString
    val orders = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
      .toDF("okey", "total")
    val items = Seq((1L, 5.0), (1L, 6.0), (2L, 7.0))
      .toDF("okey", "qty")
    graft.sources.Tables.writeBucketed(orders, s"$wh/o", "bk_orders",
      Seq("okey"), buckets = 4)
    graft.sources.Tables.writeBucketed(items, s"$wh/i", "bk_items",
      Seq("okey"), buckets = 4)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // AQE wraps the plan in an AdaptiveSparkPlanExec LEAF, which hides
      // the real operators from TreeNode.collect; the assertion is about
      // static EnsureRequirements planning, so turn AQE off for it
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = spark.table("bk_orders")
        .join(spark.table("bk_items"), "okey")
      assert(joined.count() === 3L)
      // bucket-co-located join: both scans report the bucket hash
      // partitioning, so EnsureRequirements inserts NO shuffle. Walk the
      // executed plan for actual exchange nodes — a string match on
      // "ShuffleExchange" is vacuous (the node renders as "Exchange").
      val plan = joined.queryExecution.executedPlan
      val shuffles = plan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
      }
      assert(shuffles.isEmpty,
        s"expected a shuffle-free bucketed join, got:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS bk_orders")
      spark.sql("DROP TABLE IF EXISTS bk_items")
    }
  }

  test("streaming funnel advances per-user state across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("sfunnel").toString
    val ns = 1000L * 1000 * 1000
    def write(rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.map { case (id, ts, u, et) => (id, ts, u, et, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    // batch 1: user 1 signs up and clicks; user 2 clicks WITHOUT signup
    write(Seq((0L, 10L * ns, 1L, "signup"), (1L, 20L * ns, 1L, "click"),
      (2L, 10L * ns, 2L, "click")))
    val q = Events.streamingFunnel(spark, dir, Seq("signup", "click", "purchase"))
      .writeStream.format("memory").queryName("sfunnel_out")
      .outputMode("update").start()
    q.processAllAvailable()
    // batch 2: user 1 purchases — state from batch 1 must carry over
    write(Seq((3L, 30L * ns, 1L, "purchase")))
    q.processAllAvailable()
    q.stop()
    val last = spark.sql("""SELECT user_id, max(steps_reached) AS r
      FROM sfunnel_out GROUP BY 1""")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(last === Map(1L -> 3, 2L -> 0))
  }

  test("curateStream composes the ingest stages: length + model gates," +
      " exact dedup across micro-batches, exact-ngram decontamination," +
      " split assign — kept hash set matches the batch composition") {
    import graft.operators.{Classifier, Dedup, Pipeline}
    val dir = java.nio.file.Files.createTempDirectory("scurate").toString
    val longA = ("alpha bravo charlie delta echo foxtrot golf hotel " * 4).trim
    val longB = ("india juliett kilo lima mike november oscar papa " * 4).trim
    val evalDoc = ("quebec romeo sierra tango uniform victor whiskey xray " * 4).trim
    def write(rows: Seq[(Long, String)]): Unit =
      rows.map { case (id, txt) => (id, txt, "en", "web", txt.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(dir)
    // batch 1: a keeper, a too-short doc, a contaminated doc
    write(Seq((0L, longA), (1L, "tiny"), (2L, evalDoc + " extra words here")))
    val probe = Seq((100L, evalDoc)).toDF("doc_id", "text")
    // a permissive model: score gate present but passes everything
    val m = Classifier.Model(Array.fill(33)(0.0), 32)
    val out = Pipeline.curateStream(
      spark.readStream.schema(
        Seq((0L, "", "", "", 0L))
          .toDF("doc_id", "text", "lang", "source", "n_chars").schema)
        .parquet(dir),
      "doc_id", "text", probe = Some(probe),
      minChars = 50, qualityModel = Some(m), maxQualityScore = 0.6,
      decontaminateExactNgrams = 5)
    val q = out.writeStream.format("memory").queryName("scurate_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // batch 2: an exact-norm dup of longA (dropped by cross-batch
    // state) and a fresh keeper
    write(Seq((10L, "  " + longA.toUpperCase + "  "), (11L, longB)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("scurate_out")
    assert(got.columns.contains("split"))
    val gotHashes = got.select("text_hash").collect()
      .map(_.getString(0)).toSet
    // batch replay: same filters, exact-normalized keep, exact-gram decon
    val all = Seq((0L, longA), (1L, "tiny"),
      (2L, evalDoc + " extra words here"),
      (10L, "  " + longA.toUpperCase + "  "), (11L, longB))
      .toDF("doc_id", "text")
    val filtered = all.filter(length(col("text")) >= 50)
    val deduped = Dedup.dropDuplicatesExact(
      filtered.withColumn("text_hash",
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " "))),
      "text_hash", "text_hash")
    val expect = Dedup.decontaminateExact(deduped, probe, "text_hash",
        "text", n = 5)
      .select("text_hash").collect().map(_.getString(0)).toSet
    assert(gotHashes === expect)
    assert(gotHashes.size === 2) // longA family + longB; eval-dup gone
  }

  test("curateStream script routing keeps exactly the ids scriptRatios" +
      " labels as allowed — the inline stateless chain cannot drift") {
    import graft.operators.{Pipeline, TextAnalysis}
    val dir = java.nio.file.Files.createTempDirectory("sscript").toString
    val rows = Seq(
      (0L, "plain latin text document"),          // latin
      (1L, "Привет мир это русский текст"),       // cyrillic
      (2L, "日本語のテキストと漢字"),                // cjk
      (3L, "مرحبا بالعالم"),                      // arabic
      (4L, "    "),                                // empty (ws only)
      (5L, "12345 67890 !!"),                      // other (no script)
      (6L, "год year"),                            // latin/cyr tie → latin
      (7L, "日本 ab"))                             // latin>=cjk tie → latin
    rows.map { case (id, txt) => (id, txt, "en", "web", txt.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val allowed = Seq("latin", "cjk")
    val out = Pipeline.curateStream(
      spark.readStream.schema(
        Seq((0L, "", "", "", 0L))
          .toDF("doc_id", "text", "lang", "source", "n_chars").schema)
        .parquet(dir),
      "doc_id", "text", allowedScripts = allowed, exactDedup = false)
    val q = out.writeStream.format("memory").queryName("sscript_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sscript_out").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val expect = TextAnalysis.scriptRatios(
        rows.toDF("doc_id", "text"), "doc_id", "text")
      .filter(col("script").isInCollection(allowed))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === expect)
    assert(got === Set(0L, 2L, 6L, 7L)) // ties latin-first; empty/other out
  }

  test("streaming exact dedup keeps only the first occurrence per content") {
    val dir = java.nio.file.Files.createTempDirectory("sdedup").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.map { case (id, txt) => (id, txt, "en", "web", txt.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(dir)
    write(Seq((0L, "alpha"), (1L, "beta"), (2L, "alpha")))
    val q = graft.streaming.StreamingDedup.exactStream(spark, dir)
      .writeStream.format("memory").queryName("sdedup_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // a duplicate arriving in a LATER micro-batch is also dropped:
    // the dedup state persists across batches
    write(Seq((3L, "beta"), (4L, "gamma")))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT text FROM sdedup_out")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got === Seq("alpha", "beta", "gamma"))
  }

  test("decontaminate: probe near-dups and members drop, unrelated docs" +
      " survive") {
    import graft.operators.Dedup.decontaminate
    val base = Seq.tabulate(30)(i => s"w$i common phrase tail").mkString(" ")
    val corpus = Seq(
      (0L, base),                       // probe member -> drops
      (1L, base + " extra"),            // near-dup of probe -> drops
      (2L, Seq.tabulate(30)(i => s"z$i other words here").mkString(" ")))
      .toDF("doc_id", "text")
    val probe = corpus.filter($"doc_id" === 0L)
    val a = decontaminate(corpus, probe, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a === Seq(2L))
  }

  test("shuffle budgets: operator plans stay shuffle-minimal") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
      ShuffleExchangeLike}
    import graft.core.FrameEngine
    import graft.operators.{AsofJoin, Dedup, Sampling, TextAnalysis}
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def shuffles(df: DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case s: ShuffleExchangeLike => s
        }.size
      val docs = Seq((0L, "a b c d e"), (1L, "f g h i j"))
        .toDF("doc_id", "text")
      val li = Seq((1L, 1, 2.0), (1L, 2, 3.0)).toDF("k", "ln", "qty")
      // pipelined, shuffle-free passes
      assert(shuffles(TextAnalysis.chunkByTokens(docs, "doc_id", "text", 3, 1)) === 0)
      assert(shuffles(Sampling.assignSplit(docs, "doc_id",
        Seq("a" -> 0.5, "b" -> 0.5))) === 0)
      assert(shuffles(Dedup.minhashSignatures(docs, "doc_id", "text")) === 0)
      // exactly one exchange: single hash-partitioned pass
      assert(shuffles(FrameEngine(li, Seq("k", "ln"))
        .toPuffy(Seq("k"), aggfunc = (_, c) => sort_array(collect_list(c)))) === 1)
      assert(shuffles(Dedup.exact(docs, "doc_id", "text")) === 1)
      assert(shuffles(AsofJoin.asofJoin(
        li.select($"k", $"ln".as("t"), $"qty"),
        li.select($"k", $"ln".as("t"), $"qty".as("v")),
        Seq("k"), "t", "t")) === 1)
      // r6 additions: header decode is pipelined; multiprobe ANN pays
      // one exchange per join side + one for the rank window; the slim
      // ngram shape is 2 (anchor join) + 2 (shingle re-attach joins —
      // each reuses one side's existing partitioning)
      assert(shuffles(Multimodal.decodeImage(
        Multimodal.pack(docs, "doc_id", "text", "image"), "doc_id")) === 0)
      assert(shuffles(Similarity.annLshMultiprobe(
        Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 1, dim = 2)) === 3)
      assert(shuffles(Dedup.ngramJaccardPairs(docs, "doc_id", "text")) === 4)
      // decontamination broadcasts the probe side by hint (auto-broadcast
      // is off here), so the corpus side of its semi join never shuffles.
      // The drop forms pay the probe distinct and both sides of the
      // shuffled anti join; the scrubs pay the probe distinct, the
      // round-robin spread of the checkpointed token arrays once per
      // consumer, the starts aggregate and the rewrite join
      def broadcasts(df: DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case b: BroadcastExchangeLike => b
        }.size
      val probe = docs.filter($"doc_id" === 0L)
      Seq(
        "decontaminate" ->
          (Dedup.decontaminate(docs, probe, "doc_id", "text"), 3),
        "decontaminateExact" -> (Dedup.decontaminateExact(
          docs, probe, "doc_id", "text", n = 2), 3),
        "scrubContaminatedSpans" -> (Dedup.scrubContaminatedSpans(
          docs, probe, "doc_id", "text", n = 2), 5),
        "scrubContaminatedSpansBpe" -> (Dedup.scrubContaminatedSpansBpe(
          docs, probe, "doc_id", "text", spanTokens = 2), 5)
      ).foreach { case (name, (df, n)) =>
        assert(shuffles(df) === n, name)
        assert(broadcasts(df) === 1, name)
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("normalizeText: accents/case/space variants collapse to one key;" +
      " composed and combining forms agree") {
    import graft.operators.TextAnalysis.normalizeText
    val got = Seq(
      "Café  Über    straße", // composed é, Ü; nbsp-free
      "cafe uber straße",
      "CAFE\u0301 U\u0308BER stra\u00dfe", // combining acute / diaeresis
      "naïve  ÉLAN",
      "İstanbul" // dotted capital I: lowering emits U+0307
      ).toDF("t")
      .select(normalizeText(col("t")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(got(0) === "cafe uber straße")
    assert(got(1) === got(0))
    assert(got(2) === got(0)) // NFD path: combining marks stripped too
    assert(got(3) === "naive elan")
    // case-mapping-introduced combining dot is stripped because the
    // lowercase pass runs BEFORE the NFD/strip pass
    assert(got(4) === "istanbul")
  }

  test("scrubPii masks emails, phones, and IPv4s, leaves clean text alone") {
    import graft.operators.TextAnalysis.scrubPii
    val got = Seq(
      "mail me at jane.doe+x@sub.example.org today",
      "call (555) 123-4567 or +1 555.123.4567",
      "server at 192.168.0.1 responded",
      "no pii here at all").toDF("t")
      .select(scrubPii($"t").as("c")).collect().map(_.getString(0)).toSeq
    assert(got === Seq(
      "mail me at <EMAIL> today",
      "call <PHONE> or <PHONE>",
      "server at <IP> responded",
      "no pii here at all"))
  }

  test("asofJoin: most recent right row per key, inclusive and strict" +
      " tie modes, left-join nulls") {
    import graft.operators.AsofJoin.asofJoin
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 15L, "c"),
      (2L, 5L, "d"), (3L, 7L, "e"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 18L, 180.0), (2L, 5L, 50.0))
      .toDF("k", "t", "v")
    def resultMap(inclusive: Boolean) =
      asofJoin(left, right, Seq("k"), "t", "t", inclusive)
        .collect().map(r => r.getString(2) ->
          (if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    // inclusive: a right row at the same instant matches
    assert(resultMap(true) === Map(
      "a" -> 100.0, // t=10 matches right t=10 exactly
      "b" -> 180.0, // most recent of {10, 18}
      "c" -> 100.0, // 18 is in the future
      "d" -> 50.0,  // same-instant match
      "e" -> null)) // key 3 has no right rows at all
    // strict: same-instant right rows are invisible
    assert(resultMap(false) === Map(
      "a" -> null, "b" -> 180.0, "c" -> 100.0, "d" -> null, "e" -> null))
    // right payload colliding with a left column is rejected
    val e = intercept[graft.core.PuffbirdException] {
      asofJoin(left, right.withColumnRenamed("v", "tag"), Seq("k"), "t", "t")
    }
    assert(e.getMessage.contains("tag"))
  }

  test("asofJoin: null timestamps and null keys never match, left rows" +
      " survive null-extended") {
    import graft.operators.AsofJoin.asofJoin
    val left = Seq(
      (Some(1L), Some(10L), "a"),
      (Some(1L), Option.empty[Long], "nullts"),
      (Option.empty[Long], Some(10L), "nullkey"))
      .toDF("k", "t", "tag")
    val right = Seq(
      (Some(1L), Some(5L), 50.0),
      (Some(1L), Option.empty[Long], 666.0), // null-ts: must never match
      (Option.empty[Long], Some(1L), 777.0)) // null-key: must never match
      .toDF("k", "t", "v")
    val got = asofJoin(left, right, Seq("k"), "t", "t")
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    // "a" matches the real (k=1, t=5) row — NOT the null-ts 666 (which
    // sorts first under ts.asc and would otherwise be the running match)
    assert(got === Map("a" -> 50.0, "nullts" -> null, "nullkey" -> null))
  }

  test("rangeJoin: inclusive bounds, multi-bin intervals, no duplicate" +
      " matches, keyed variant") {
    import graft.operators.RangeJoin.rangeJoin
    val vals = Seq((1L, 5.0), (2L, 10.0), (3L, 20.0), (4L, 35.0), (5L, 9.99))
      .toDF("id", "v")
    // interval B spans many bins (width 30 vs binWidth 10); A and B overlap
    val ivs = Seq(("A", 5.0, 10.0), ("B", 8.0, 38.0)).toDF("band", "lo", "hi")
    val got = rangeJoin(vals, ivs, "v", "lo", "hi", binWidth = 10.0)
      .select("id", "band").collect().map(r => (r.getLong(0), r.getString(1)))
      .sorted.toSeq
    // 5.0 and 10.0 hit A's inclusive bounds; 10, 20, 35 fall in B; each
    // (value, interval) pair appears exactly once despite B covering 4 bins
    assert(got === Seq((1L, "A"), (2L, "A"), (2L, "B"), (3L, "B"),
      (4L, "B"), (5L, "A"), (5L, "B")))
    // keyed: the same value only matches intervals of its own key
    val kv = Seq((1L, 10L, 7.0), (2L, 20L, 7.0)).toDF("k", "id2", "v")
    val ki = Seq((1L, 0.0, 10.0)).toDF("k", "lo", "hi")
    val kg = rangeJoin(kv, ki, "v", "lo", "hi", 10.0, keys = Seq("k"))
      .select("id2").collect().map(_.getLong(0)).toSeq
    assert(kg === Seq(10L))
  }

  test("int8 quantization round-trips within scale/2 per component") {
    import graft.functions.VectorFunctions.{quantizeInt8, dequantizeInt8}
    val vecs = Seq(
      (0L, Seq(1.0f, -2.5f, 0.3f, 127.0f)),
      (1L, Seq(-0.001f, 0.002f, 0.0f, 0.0005f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)) // all-zero: scale 0, zero codes
    ).toDF("id", "v")
    val out = vecs.select($"id", $"v",
      quantizeInt8($"v").as("q"),
      dequantizeInt8(quantizeInt8($"v")).as("dq"))
    out.collect().foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      val scale = r.getStruct(2).getDouble(0)
      val codes = r.getStruct(2).getSeq[Int](1)
      val dq = r.getSeq[Double](3)
      assert(codes.forall(c => c >= -127 && c <= 127))
      v.zip(dq).foreach { case (x, y) =>
        assert(math.abs(x - y) <= scale / 2 + 1e-12,
          s"component error ${math.abs(x - y)} > ${scale / 2}")
      }
    }
  }

  test("deterministic sampling: splits partition the corpus, samples nest" +
      " and are stable") {
    import graft.operators.Sampling
    val df = spark.range(0, 1000).toDF("id")
    val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val sp = Sampling.assignSplit(df, "id", weights)
    val bySplit = sp.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every row lands in exactly one split, all splits populated,
    // roughly proportional (hash-uniform, wide tolerance)
    assert(bySplit.values.sum === 1000L)
    assert(bySplit.keySet === Set("train", "val", "test"))
    assert(bySplit("train") > 700L && bySplit("train") < 900L)
    // content-addressed: a re-run assigns identically
    val again = Sampling.assignSplit(df, "id", weights)
    assert(sp.except(again).isEmpty && again.except(sp).isEmpty)
    // samples are subsets and NEST: the 10% sample is inside the 30% one
    val s30 = Sampling.hashSample(df, "id", 0.3)
    val s10 = Sampling.hashSample(df, "id", 0.1)
    assert(s30.join(df, Seq("id"), "left_anti").isEmpty)
    assert(s10.join(s30, Seq("id"), "left_anti").isEmpty)
  }

  test("streaming near-dup dedup drops an LSH near-duplicate arriving in" +
      " a later micro-batch") {
    val dir = java.nio.file.Files.createTempDirectory("snear").toString
    val base = Seq.tabulate(40)(i =>
      s"token$i alpha bravo charlie delta echo").mkString(" ")
    val nearDup = base + " trailing-extra-word" // NOT byte-equal
    val unrelated = Seq.tabulate(40)(i =>
      s"zulu$i yankee xray whiskey victor uniform").mkString(" ")
    // precondition of the LSH drop: the near-dup pair shares >= 1 band
    // bucket, the unrelated doc shares none (deterministic expressions —
    // this either always holds or never does)
    import graft.functions.TextFunctions.{minhashBuckets, shingleHashes}
    val bk = Seq((0L, base), (1L, nearDup), (2L, unrelated))
      .toDF("id", "text")
      .select($"id", minhashBuckets(shingleHashes($"text", 3), 16, 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(bk(0L).intersect(bk(1L)).nonEmpty, "fixture: pair must collide")
    assert(bk(0L).intersect(bk(2L)).isEmpty, "fixture: unrelated must not")

    def write(rows: Seq[(Long, String, Long)]): Unit =
      rows.map { case (id, txt, sec) =>
        (id, txt, "en", "web", txt.length.toLong,
          new java.sql.Timestamp(sec * 1000L))
      }.toDF("doc_id", "text", "lang", "source", "n_chars", "ingest_ts")
        .coalesce(1).write.mode("append").parquet(dir)

    // horizon 10s => 10s windows; survivors emit when the watermark
    // passes their window end. The chained fMGWS -> agg pattern requires
    // acknowledging Spark's global-watermark heuristic (safe here — see
    // nearDupStream scaladoc)
    val ckKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prevCk = spark.conf.get(ckKey)
    try {
      spark.conf.set(ckKey, "false")
      // t=100 base, NOT t=0: epoch 0 sits exactly on the initial
      // watermark boundary and is filtered as late
      write(Seq((0L, base, 100L), (2L, unrelated, 101L)))
      val q = graft.streaming.StreamingDedup
        .nearDupStream(spark, dir, horizon = "10 seconds")
        .writeStream.format("memory").queryName("snear_out")
        .outputMode("append").start()
      q.processAllAvailable()
      // batch 2: the near-dup arrives in window [100,110) — its buckets
      // are owned by doc 0 from batch 1 (cross-batch state); the late doc
      // at t=140 pushes the watermark to 130, closing window [100,110)
      write(Seq((1L, nearDup, 105L), (3L, "totally different text entirely", 140L)))
      q.processAllAvailable()
      // batch 3: push the watermark past window [140,150) to flush doc 3
      write(Seq((4L, "another unrelated closer document", 170L)))
      q.processAllAvailable()
      q.stop()
      val got = spark.sql("SELECT doc_id FROM snear_out")
        .collect().map(_.getLong(0)).sorted.toSeq
      // doc 1 (the near-duplicate) is dropped; everything else survives
      assert(got === Seq(0L, 2L, 3L))
    } finally spark.conf.set(ckKey, prevCk)
  }

  test("perceptualDupStream drops a cross-batch re-encode of a seen" +
      " picture; unrelated pictures and undecodables behave per contract") {
    import graft.functions.{DHash, GifCodec, PngCodec}
    val dir = java.nio.file.Files.createTempDirectory("spnear").toString
    def plane(f: (Int, Int) => Int): Array[Byte] =
      Array.tabulate(72)(i => (f(i % 9, i / 9) & 0xff).toByte)
    val picA = plane((x, y) => (x * 13 + y * 31 + 7) * 3 % 256)
    // same picture, one sample nudged: gradient signs move <= 1 bit
    val picA2 = picA.clone(); picA2(0) = ((picA(0) & 0xff) + 2).toByte
    val picB = plane((x, y) => (x * 29 + y * 17 + 100) * 5 % 256)
    val pngA = PngCodec.encodeGray(9, 8, picA)
    val gifA2 = GifCodec.encodeGray(9, 8, picA2) // different CONTAINER
    val pngB = PngCodec.encodeGray(9, 8, picB)
    def bands(h: Long): Set[(Int, Long)] =
      (0 until 4).map(b => b -> ((h >> (16 * b)) & 0xffff)).toSet
    val hA = DHash.dhash(pngA); val hA2 = DHash.dhash(gifA2)
    val hB = DHash.dhash(pngB)
    assert(java.lang.Long.bitCount(hA ^ hA2) <= 1,
      "fixture: near-pair must be within 1 bit")
    assert(bands(hA).intersect(bands(hA2)).nonEmpty)
    assert(bands(hA).intersect(bands(hB)).isEmpty,
      "fixture: unrelated must share no band")

    def write(rows: Seq[(Long, Array[Byte], Long)]): Unit =
      rows.map { case (id, p, sec) =>
        (id, p, new java.sql.Timestamp(sec * 1000L))
      }.toDF("doc_id", "payload", "ingest_ts")
        .coalesce(1).write.mode("append").parquet(dir)

    val ckKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prevCk = spark.conf.get(ckKey)
    try {
      spark.conf.set(ckKey, "false")
      write(Seq((0L, pngA, 100L), (2L, pngB, 101L)))
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType),
        StructField("ingest_ts", TimestampType)))
      val q = graft.streaming.StreamingDedup.perceptualDupStream(
          spark.readStream.schema(schema).parquet(dir),
          horizon = "10 seconds")
        .writeStream.format("memory").queryName("spnear_out")
        .outputMode("append").start()
      q.processAllAvailable()
      // batch 2: the GIF re-encode of picture A arrives — its bands are
      // owned by doc 0 from batch 1 (cross-batch, CROSS-CONTAINER
      // state); doc 3 pushes the watermark past window [100,110).
      // An undecodable payload (doc 9) is contractually NOT emitted.
      write(Seq((1L, gifA2, 105L),
        (9L, "not an image at all".getBytes, 106L),
        (3L, PngCodec.encodeGray(9, 8,
          plane((x, y) => (x * 7 + y * 3) % 256)), 140L)))
      q.processAllAvailable()
      write(Seq((4L, GifCodec.encodeGray(9, 8,
        plane((x, y) => (x + y * 11 + 50) % 256)), 170L)))
      q.processAllAvailable()
      q.stop()
      val got = spark.sql("SELECT doc_id FROM spnear_out")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got === Seq(0L, 2L, 3L),
        s"survivors must be 0 (owner), 2 (unrelated), 3 (flusher): $got")
    } finally spark.conf.set(ckKey, prevCk)
  }

  test("dedupLines keeps first corpus-wide occurrence, exempts short" +
      " lines, and plans WITHOUT a window (skew-safe shape)") {
    val d = Seq(
      (0L, "common line\nunique a\n\nshort tail"),
      (1L, "common line\nunique b"),
      (2L, "\n\n")) // all-blank doc: everything exempt-kept
      .toDF("doc_id", "text")
    val out = Dedup.dedupLines(d, "doc_id", "text")
    // the hot-key rank must be a partial-aggregable groupBy, not a
    // row_number window partitioned by the line hash: a corpus-wide
    // repeated line would otherwise sort in ONE task (r7 verdict)
    val windows = out.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExecBase => w
    }
    assert(windows.isEmpty,
      s"dedupLines must not plan a Window:\n${out.queryExecution.executedPlan}")
    val rows = out.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[String]("text_kept"), r.getAs[Long]("n_lines_kept"),
        r.getAs[Long]("n_lines_dropped")))).toMap
    assert(rows(0L) === (("common line\nunique a\n\nshort tail", 4L, 0L)))
    assert(rows(1L) === (("unique b", 1L, 1L))) // "common line" seen in doc 0
    assert(rows(2L) === (("\n\n", 3L, 0L))) // blank lines always survive
  }

  test("winnowOverlapPairs surfaces docs sharing a >= k+w-1 substring;" +
      " the doc-frequency cap suppresses corpus-wide boilerplate") {
    // 36 shared chars >> k + w - 1 = 10: the winnowing guarantee says at
    // least one shared fingerprint MUST surface for docs 0 and 1
    val shared = "abcdefghijklmnopqrstuvwxyz0123456789"
    val d = Seq(
      (0L, s"prefix one $shared tail one"),
      (1L, s"other start $shared different end"),
      (2L, "QQQ WWW EEE RRR TTT YYY UUU III OOO PPP")) // disjoint alphabet
      .toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowOverlapPairs(d, "doc_id", "text",
        k = 7, w = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
    // maxDocFreq = 1: every shared fingerprint has document frequency 2
    // and is dropped before the self-join -> no pairs survive
    assert(TextAnalysis.winnowOverlapPairs(d, "doc_id", "text",
      k = 7, w = 4, minShared = 1, maxDocFreq = 1).count() === 0L)
  }

  test("dropDuplicatesKeepBest works with STRING ids: max score wins," +
      " ties break to the lexicographically smallest id") {
    val d = Seq(
      ("b", "Same Text", 5.0),
      ("a", "same  text ", 5.0), // normalized dup, tied score -> "a" wins
      ("c", "same text", 3.0),
      ("d", "other", 1.0)).toDF("id", "text", "score")
    val out = Dedup.dropDuplicatesKeepBest(d, "id", "text", col("score"))
      .collect().map(r => r.getAs[Long]("dup_count") ->
        ((r.getAs[String]("keep_id"), r.getAs[Double]("keep_score")))).toMap
    assert(out(3L) === (("a", 5.0)))
    assert(out(1L) === (("d", 1.0)))
  }

  test("topKPerKey equals the window row_number reference (hot key, ties)" +
      " and plans as a partial aggregate with NO window or sort") {
    import org.apache.spark.sql.expressions.Window
    // one hot key (80% of rows), score ties inside and outside the top-k
    val rows = Seq.tabulate(100) { i =>
      val key = if (i % 5 == 0) i.toLong % 7 else 999L
      (key, i.toLong, (i % 13).toDouble)
    }
    val df = rows.toDF("k", "id", "score")
    val got = graft.operators.TopK.topKPerKey(df, Seq("k"), "score", "id", 3)
    val w = Window.partitionBy($"k").orderBy($"score".desc, $"id".asc)
    val ref = df.withColumn("rk", row_number().over(w).cast("int"))
      .filter($"rk" <= 3).select($"k", $"id", $"score", $"rk")
    assert(got.collect().map(_.toSeq).toSet === ref.collect().map(_.toSeq).toSet)
    val plan = got.queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExecBase => w
      case s: org.apache.spark.sql.execution.SortExec => s
    }.isEmpty, s"topKPerKey must not plan a Window or Sort:\n$plan")
    // the map-side partial must exist: a hot key reduces to <= k entries
    // per task BEFORE the exchange
    assert(plan.toString.contains("partial_topkaggregator"),
      s"expected a partial aggregation phase:\n$plan")
  }

  test("topKPerKey: NaN order values sort greatest with deterministic id" +
      " tie-break, matching the window reference") {
    import org.apache.spark.sql.expressions.Window
    val d = Seq(
      (0L, 1L, Double.NaN), (0L, 5L, Double.NaN), (0L, 3L, Double.NaN),
      (0L, 2L, 9.0), (0L, 4L, 7.0))
      .toDF("k", "id", "score")
    val got = graft.operators.TopK.topKPerKey(d, Seq("k"), "score", "id", 3)
    val w = Window.partitionBy($"k").orderBy($"score".desc, $"id".asc)
    val ref = d.withColumn("rk", row_number().over(w).cast("int"))
      .filter($"rk" <= 3).select($"k", $"id", $"score", $"rk")
    // Spark sorts NaN above all doubles; ties break by id — so the top 3
    // are the NaN rows with ids 1,3,5 in that order, regardless of the
    // arrival order the aggregator sees
    assert(got.collect().map(r => (r.getLong(1), r.getInt(3))).toSet ===
      Set((1L, 1), (3L, 2), (5L, 3)))
    // NaN != NaN under ==, so compare (id, rank) projections
    assert(got.collect().map(r => (r.getLong(1), r.getInt(3))).toSet ===
      ref.collect().map(r => (r.getLong(1), r.getInt(3))).toSet)
  }

  test("pqTrainSubCentroids: one Lloyd iteration equals a driver-side" +
      " replay; pqTrainCodebook concatenates subspace slices per code") {
    import graft.operators.Similarity
    import graft.functions.TextFunctions.hash60
    val n = 20; val dim = 4; val m = 2; val k = 2
    val data = (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(dd => ((i * 13 + dd * 7) % 10).toFloat))
    }
    val df = data.toDF("vec_id", "embedding")
    val got = Similarity.pqTrainSubCentroids(df, "vec_id", "embedding",
        m, k, iters = 1)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2))
      .toMap
    assert(got.keySet === (for (j <- 0 until m; c <- 0 until k)
      yield (j, c.toLong)).toSet)
    // independent driver replay of seed/assign/recompute
    val hks = df.select(col("vec_id"), hash60(col("vec_id").cast("string")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = data.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    val seedIds = data.map(_._1).sortBy(id => (hks(id), id)).take(k)
    val dsub = dim / m
    def slc(v: Array[Double], j: Int) = v.slice(j * dsub, (j + 1) * dsub)
    def rd6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (j <- 0 until m) {
      val assign = data.map(_._1).groupBy { id =>
        val xv = slc(vecs(id), j)
        seedIds.indices.minBy { c =>
          (rd6(slc(vecs(seedIds(c)), j).zip(xv)
            .map { case (a, b) => (a - b) * (a - b) }.sum), c)
        }
      }
      for (c <- 0 until k) {
        val exp = assign.get(c) match {
          case Some(ids) =>
            val sls = ids.map(id => slc(vecs(id), j))
            Array.tabulate(dsub)(d => sls.map(_(d)).sum / sls.length)
          case None => slc(vecs(seedIds(c)), j)
        }
        val g = got((j, c.toLong))
        assert(g.zip(exp).forall { case (a, b) => math.abs(a - b) < 1e-9 },
          s"centroid ($j,$c): got $g expected ${exp.toSeq}")
      }
    }
    val cb = Similarity.pqTrainCodebook(df, "vec_id", "embedding",
      m, k, iters = 1)
    for (c <- 0 until k)
      assert(cb(c).toSeq ===
        (got((0, c.toLong)) ++ got((1, c.toLong))).toSeq)
  }

  test("residual IVF-PQ: ADC fold equals reconstruct-then-cosine, and" +
      " residual codes reconstruct tighter than raw-vector codes") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(41)
    // two tight clusters around distinct centers: residuals are small,
    // raw vectors are not — the case residual PQ exists for
    val centers = Seq(
      Array.fill(8)(rnd.nextDouble() * 2 - 1),
      Array.fill(8)(rnd.nextDouble() * 2 - 1))
    val rows = (0 until 40).map { i =>
      val c = centers(i % 2)
      (i.toLong, c.map(x => (x + (rnd.nextDouble() - 0.5) * 0.1).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val centroids = Seq((0L, centers(0).map(_.toFloat)),
        (1L, centers(1).map(_.toFloat)))
      .toDF("centroid_id", "__cv")
    // residual codebook: residuals of the 4 smallest ids
    val cb = Similarity.ivfAssign(df.filter($"vec_id" < 4), "vec_id",
        "embedding", centroids)
      .join(broadcast(centroids), Seq("centroid_id"))
      .select($"vec_id", zip_with($"embedding".cast("array<double>"),
        $"__cv".cast("array<double>"), (x, c) => x - c).as("res"))
      .orderBy($"vec_id".asc).collect().map(_.getSeq[Double](1).toArray)
    val got = Similarity.ivfPqResidualTopK(df.filter($"vec_id" < 3), df,
        "vec_id", "embedding", centroids, cb, m = 2, k = 5, probes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // driver replay: assign, encode residual by round-6 L2^2 (tie to
    // smaller code), reconstruct c + r-hat, plain cosine
    val vecs = rows.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def rd6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def assign(v: Array[Double]) =
      centers.indices.minBy(c => (-rd6(cos(v, centers(c))), c))
    def encode(res: Array[Double]): Seq[Int] = (0 until 2).map { j =>
      cb.indices.minBy { c =>
        (rd6(res.slice(j * 4, j * 4 + 4).zip(cb(c).slice(j * 4, j * 4 + 4))
          .map { case (x, y) => (x - y) * (x - y) }.sum), c)
      }
    }
    got.foreach { case ((q, n), score) =>
      val cell = assign(vecs(n))
      val res = vecs(n).zip(centers(cell)).map { case (x, c) => x - c }
      val codes = encode(res)
      val recon = centers(cell).clone()
      for (j <- 0 until 2; i <- 0 until 4)
        recon(j * 4 + i) += cb(codes(j))(j * 4 + i)
      assert(math.abs(score - rd6(cos(vecs(q), recon))) < 1e-9,
        s"ADC-residual mismatch for ($q, $n)")
      // tightness: the residual reconstruction is closer to the true
      // vector than the raw-vector reconstruction from the same-size
      // raw codebook (anchors = raw vectors of the same 4 ids)
    }
    // residual reconstruction error < raw reconstruction error, summed
    // over the corpus (the point of encoding residuals)
    val rawCb = (0 until 4).map(i => vecs(i.toLong)).toArray
    def l2(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val (resErr, rawErr) = rows.map { case (id, _) =>
      val v = vecs(id)
      val cell = assign(v)
      val res = v.zip(centers(cell)).map { case (x, c) => x - c }
      val codes = encode(res)
      val reconRes = centers(cell).clone()
      for (j <- 0 until 2; i <- 0 until 4)
        reconRes(j * 4 + i) += cb(codes(j))(j * 4 + i)
      val rawCodes = (0 until 2).map { j =>
        rawCb.indices.minBy { c =>
          (rd6(v.slice(j * 4, j * 4 + 4).zip(rawCb(c).slice(j * 4, j * 4 + 4))
            .map { case (x, y) => (x - y) * (x - y) }.sum), c)
        }
      }
      val reconRaw = Array.tabulate(8)(i => rawCb(rawCodes(i / 4))(i))
      (l2(v, reconRes), l2(v, reconRaw))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(resErr < rawErr,
      s"residual reconstruction ($resErr) should beat raw ($rawErr)")
  }

  test("pqTrainSubCentroids plan: broadcast assignment join and" +
      " partial-aggregable recompute with a window group limit") {
    import graft.operators.Similarity
    val df = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 3 + d) % 11).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Similarity.pqTrainSubCentroids(df, "vec_id", "embedding",
      m = 2, k = 4, iters = 1)
    val plan = out.queryExecution.executedPlan.toString
    // the per-(row, sub) nearest-code assignment must join the m×k
    // centroids BROADCAST — a shuffled join here would exchange the
    // whole training sample against 8 rows
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast assignment join:\n$plan")
    // rn = 1 filter gets a WindowGroupLimit partial (per-partition
    // top-1 before the window exchange) and the mean recompute has a
    // map-side partial_avg
    assert(plan.contains("WindowGroupLimit"),
      s"expected a window group limit on the rank filter:\n$plan")
    assert(plan.contains("partial_avg"),
      s"expected a partial aggregation in the recompute:\n$plan")
  }

  test("PQ: anchors encode to their own code; ADC cosine equals the" +
      " reconstruct-then-cosine reference") {
    import graft.operators.Similarity
    // 4 dims, m = 2 subspaces, 3 anchors
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f, 0.2f, 0.9f)), // near anchor 0 in both halves
      (4L, Array(0.1f, 0.9f, 0.9f, 0.1f))) // near anchor 1 in both halves
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebook(vecs, "vec_id", "embedding", $"vec_id" < 3)
    val enc = Similarity.pqEncode(vecs, "vec_id", "embedding", cb, m = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(enc(0L) === Seq(0, 0) && enc(1L) === Seq(1, 1) &&
      enc(2L) === Seq(2, 2))
    assert(enc(3L) === Seq(0, 0) && enc(4L) === Seq(1, 1))
    // ADC vs reference: reconstruct from codes, then plain cosine
    val got = Similarity.pqTopK(vecs.filter($"vec_id" === 3L), vecs,
        "vec_id", "embedding", cb, m = 2, k = 4)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // float32 source values, converted exactly as Spark's float->double cast
    val q = Array(0.9f, 0.1f, 0.2f, 0.9f).map(_.toDouble)
    val recon = Map( // codes -> codebook slices, per the encodings above
      0L -> cb(0), 1L -> cb(1), 2L -> cb(2),
      4L -> cb(1)) // doc 4 encodes to (1, 1) = anchor 1 both halves
    recon.foreach { case (id, rv) =>
      assert(math.abs(got(id) - cos(q, rv)) < 1e-9,
        s"ADC mismatch for neighbor $id: ${got(id)} vs ${cos(q, rv)}")
    }
  }

  test("ivfPqTopK searches only the probed cells: a cross-cell neighbor" +
      " is invisible at probes=1 and found at probes=2") {
    import graft.operators.Similarity
    // two well-separated cells on the first axis; query 10 sits in cell A
    // but its best ADC match by cosine is 21 in cell B
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.05f, 0.0f)),  // centroid A
      (1L, Array(0.0f, 1.0f, 0.0f, 0.05f)),  // centroid B
      (10L, Array(0.9f, 0.35f, 0.0f, 0.0f)), // query: cell A
      (11L, Array(1.0f, 0.1f, 0.0f, 0.0f)),  // cell A corpus
      (21L, Array(0.55f, 0.85f, 0.0f, 0.0f)))// cell B corpus, 2nd-best for q
      .toDF("vec_id", "embedding")
    val centroids = vecs.filter($"vec_id" < 2)
      .select($"vec_id".as("centroid_id"), $"embedding".as("__cv"))
    val cb = Similarity.pqCodebook(vecs, "vec_id", "embedding",
      $"vec_id" >= 10) // anchors = the corpus itself: exact reconstruction
    def hits(probes: Int) = Similarity.ivfPqTopK(
        vecs.filter($"vec_id" === 10L), vecs.filter($"vec_id" >= 10),
        "vec_id", "embedding", centroids, cb, m = 2, k = 2, probes = probes)
      .collect().map(_.getLong(1)).toSet
    // sanity: 21 really is in the other cell
    val cells = Similarity.ivfAssign(vecs.filter($"vec_id" >= 10),
        "vec_id", "embedding", centroids)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cells(10L) === 0L && cells(11L) === 0L && cells(21L) === 1L)
    assert(hits(1) === Set(11L))       // cell-bounded: 21 invisible
    assert(hits(2) === Set(11L, 21L))  // second probe reaches cell B
  }

  test("frequentNgrams counts positional repeats (tf) and distinct docs" +
      " (df); short docs contribute nothing") {
    val d = Seq(
      (0L, "a b c a b c"),   // "a b c" twice, "b c a"/"c a b" once
      (1L, "a b c"),         // exactly one trigram
      (2L, "x y"))           // < 3 words -> no trigrams
      .toDF("doc_id", "text")
    val out = TextAnalysis.frequentNgrams(d, "doc_id", "text",
        n = 3, minCount = 1L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("a b c") === ((3L, 2L)))
    assert(out("b c a") === ((1L, 1L)))
    assert(out.keySet === Set("a b c", "b c a", "c a b"))
    assert(TextAnalysis.frequentNgrams(d, "doc_id", "text",
      n = 3, minCount = 3L).count() === 1L)
  }

  test("AudioHeaders: FLAC STREAMINFO bit fields decode; fuzz never" +
      " throws; WAV chunk walk tolerates a leading extra chunk") {
    import graft.functions.AudioHeaders
    // handcrafted FLAC: rate 44100, stereo, 16-bit, 220500 samples (5s)
    def flacBytes(rate: Int, ch: Int, bits: Int, samples: Long): Array[Byte] = {
      val out = new scala.collection.mutable.ArrayBuffer[Byte]()
      out ++= "fLaC".getBytes
      out += 0x80.toByte; out ++= Array[Byte](0, 0, 34) // last, STREAMINFO
      out ++= Array[Byte](0x10, 0, 0x10, 0, 0, 0, 0, 0, 0, 0) // block/frame sizes
      out += ((rate >> 12) & 0xff).toByte
      out += ((rate >> 4) & 0xff).toByte
      out += (((rate & 0xf) << 4) | ((ch - 1) << 1) | ((bits - 1) >> 4)).toByte
      out += ((((bits - 1) & 0xf) << 4) | ((samples >> 32) & 0xf).toInt).toByte
      out += ((samples >> 24) & 0xff).toByte
      out += ((samples >> 16) & 0xff).toByte
      out += ((samples >> 8) & 0xff).toByte
      out += (samples & 0xff).toByte
      out ++= Array.fill[Byte](16)(0) // md5
      out.toArray
    }
    val r = AudioHeaders.info(flacBytes(44100, 2, 16, 220500L))
    assert(r !== null)
    assert(r.getUTF8String(0).toString === "flac")
    assert(r.getInt(1) === 2 && r.getInt(2) === 44100 && r.getInt(3) === 16)
    assert(r.getLong(4) === 220500L && r.getLong(5) === 5000L)
    // WAV whose fmt chunk comes after an unknown chunk still parses
    def le16b(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32b(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val wav = "RIFF".getBytes ++ le32b(1000) ++ "WAVE".getBytes ++
      "LIST".getBytes ++ le32b(4) ++ Array.fill[Byte](4)(0) ++
      "fmt ".getBytes ++ le32b(16) ++ le16b(1) ++ le16b(2) ++ le32b(16000) ++
      le32b(64000) ++ le16b(4) ++ le16b(16) ++
      "data".getBytes ++ le32b(4 * 123)
    val w = AudioHeaders.info(wav)
    assert(w !== null)
    assert(w.getUTF8String(0).toString === "wav")
    assert(w.getInt(1) === 2 && w.getInt(2) === 16000 && w.getInt(3) === 16)
    assert(w.getLong(4) === 123L)
    // arbitrary byte fuzz: total, never throws
    val rnd = new scala.util.Random(7)
    (0 until 500).foreach { i =>
      val b = new Array[Byte](rnd.nextInt(64)); rnd.nextBytes(b)
      AudioHeaders.info(b) // must not throw
    }
    // truncated real prefixes: total as well
    val good = flacBytes(8000, 1, 8, 100L)
    (0 until good.length).foreach(n =>
      AudioHeaders.info(good.take(n)))
    (0 until wav.length).foreach(n => AudioHeaders.info(wav.take(n)))
  }

  test("VideoHeaders: mvhd v1 (64-bit) decodes; moov after a free box" +
      " found; fuzz/truncation never throw") {
    import graft.functions.VideoHeaders
    def be32b(v: Long) = Array[Byte](((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(name: String, content: Array[Byte]): Array[Byte] =
      be32b(8 + content.length) ++ name.getBytes ++ content
    val ftyp = box("ftyp", "isom".getBytes ++ be32b(0x200))
    // v1 mvhd: version 1, 64-bit ctime/mtime, 32-bit timescale, 64-bit dur
    val mvhd1 = box("mvhd", Array[Byte](1, 0, 0, 0) ++
      Array.fill[Byte](16)(0) ++ be32b(90000) ++ be32b(0) ++ be32b(450000))
    val free = box("free", Array.fill[Byte](12)(0))
    val mp4 = ftyp ++ free ++ box("moov", free ++ mvhd1)
    val r = VideoHeaders.info(mp4)
    assert(r !== null)
    assert(r.getUTF8String(0).toString === "mp4")
    assert(r.getInt(1) === 90000 && r.getLong(2) === 450000L)
    assert(r.getLong(3) === 5000L)
    assert(r.getInt(4) === 0 && r.getInt(5) === 0) // no trak -> no dims
    val rnd = new scala.util.Random(11)
    (0 until 500).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(64)); rnd.nextBytes(b)
      VideoHeaders.info(b)
    }
    (0 until mp4.length).foreach(n => VideoHeaders.info(mp4.take(n)))
  }

  test("multimodal payload near-dup: byte-shingle LSH pairs metadata" +
      " variants of the same bytes, not unrelated payloads; total on fuzz") {
    import graft.operators.Multimodal
    import graft.functions.TextFunctions.{byteShingleHashes, byteShingles, hash60Array}
    val rnd = new scala.util.Random(42)
    val base = new Array[Byte](64); rnd.nextBytes(base)
    val other = new Array[Byte](64); rnd.nextBytes(other)
    val d = Seq(
      (0L, base),                                     // original
      (1L, base ++ Array[Byte](1, 2, 3, 4)),          // appended metadata
      (2L, Array[Byte](9, 9) ++ base),                // container prefix
      (3L, base.dropRight(6)),                        // trimmed trailer
      (4L, other))                                    // unrelated
      .toDF("doc_id", "payload")
    val pairs = Multimodal.nearDupPairs(d, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((0L, 1L), (0L, 2L), (0L, 3L)).subsetOf(pairs))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
    // alignment-freeness: a 1-byte prefix shift keeps base's windows
    val sh = d.select(byteShingles(col("payload"), 8)).collect()
      .map(_.getSeq[String](0).toSet)
    assert((sh(0) & sh(2)).size === sh(0).size) // prefix adds, never removes
    // totality: short/empty payloads yield the whole-payload shingle
    val tiny = Seq((0L, Array[Byte](1, 2)), (1L, Array.empty[Byte]))
      .toDF("doc_id", "payload")
    val tsh = tiny.select(byteShingles(col("payload"), 8)).collect()
      .map(_.getSeq[String](0))
    assert(tsh(0) === Seq("0102") && tsh(1) === Seq(""))
    // fuzz: arbitrary bytes through the full pair pipeline never throw
    val fz = Seq.tabulate(50) { i =>
      val b = new Array[Byte](rnd.nextInt(40)); rnd.nextBytes(b); (i.toLong, b)
    }.toDF("doc_id", "payload")
    Multimodal.nearDupPairs(fz, "doc_id").count() // must not throw
    // fused hash path (r10): bit-identical to hashing the hex-string
    // shingle set, element order included, across sizes around the
    // window/whole-payload boundary and on fuzz payloads
    val eq = d.unionAll(tiny).unionAll(fz)
      .select(
        byteShingleHashes(col("payload"), 8).as("fused"),
        hash60Array(byteShingles(col("payload"), 8)).as("unfused"))
      .collect()
    eq.foreach(r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("Multimodal.describe dispatches mixed payload kinds to the right" +
      " decoder; undecodable rows keep null kind") {
    import graft.operators.Multimodal
    // PNG 640x480, FLAC (not covered by the driver gate), garbage
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 0x0d, 'I', 'H', 'D', 'R',
      0, 0, 0x02, 0x80.toByte, 0, 0, 0x01, 0xE0.toByte, 8, 6, 0, 0, 0)
    val flac = {
      val out = new scala.collection.mutable.ArrayBuffer[Byte]()
      out ++= "fLaC".getBytes
      out += 0x80.toByte; out ++= Array[Byte](0, 0, 34)
      out ++= Array[Byte](0x10, 0, 0x10, 0, 0, 0, 0, 0, 0, 0)
      out += ((8000 >> 12) & 0xff).toByte
      out += ((8000 >> 4) & 0xff).toByte
      out += (((8000 & 0xf) << 4) | ((1 - 1) << 1) | ((8 - 1) >> 4)).toByte
      out += ((((8 - 1) & 0xf) << 4) | 0).toByte
      out ++= Array[Byte](0, 0, 0x1f, 0x40) // 8000 samples
      out ++= Array.fill[Byte](16)(0)
      out.toArray
    }
    val d = Seq((0L, png), (1L, flac), (2L, "garbage".getBytes))
      .toDF("doc_id", "payload")
    val out = Multimodal.describe(d, "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getString(2) === "image" && out(0L).getString(3) === "png")
    assert(out(0L).getInt(4) === 640 && out(0L).getInt(5) === 480)
    assert(out(1L).getString(2) === "audio" && out(1L).getString(3) === "flac")
    assert(out(1L).getInt(6) === 1 && out(1L).getInt(7) === 8000)
    assert(out(1L).getLong(8) === 1000L) // 8000 samples @ 8 kHz
    assert(out(2L).isNullAt(2) && out(2L).isNullAt(3))
    assert(out(2L).getLong(1) === 7L) // byte_len always present
  }

  test("DHash: gradient bits over a constructed BMP; brightness shift" +
      " invariant; band join pairs perturbed copies; fuzz-total") {
    import graft.functions.DHash
    import graft.operators.Multimodal
    // 9x8 24bpp bottom-up BMP with gray(x,y) = (x*29 + y*53) % 256
    def bmp(gv: (Int, Int) => Int): Array[Byte] = {
      def le(v: Long, n: Int) = Array.tabulate(n)(i => ((v >> (8 * i)) & 0xff).toByte)
      val hdr = "BM".getBytes ++ le(278, 4) ++ le(0, 4) ++ le(54, 4) ++
        le(40, 4) ++ le(9, 4) ++ le(8, 4) ++ le(1, 2) ++ le(24, 2) ++
        le(0, 4) ++ le(224, 4) ++ le(0, 16)
      val px = (0 until 8).flatMap { r =>
        val y = 7 - r // bottom-up
        (0 until 9).flatMap { x =>
          val v = (gv(x, y) & 0xff).toByte; Seq(v, v, v)
        } :+ 0.toByte
      }
      hdr ++ px
    }
    def g(x: Int, y: Int) = (x * 29 + y * 53) % 256
    val h = DHash.dhash(bmp(g))
    assert(h !== null)
    // reference: bit y*8+x iff g(x,y) > g(x+1,y)
    var exp = 0L
    for (y <- 0 until 8; x <- 0 until 8)
      if (g(x, y) > g(x + 1, y)) exp |= 1L << (y * 8 + x)
    assert(h.longValue === exp)
    // constant brightness shift leaves every gradient sign intact
    assert(DHash.dhash(bmp((x, y) => (g(x, y) + 40) % 251)) !== null)
    assert(DHash.dhash(bmp((x, y) => g(x, y) / 2 + 10)).longValue ===
      DHash.dhash(bmp((x, y) => g(x, y) / 2 + 90)).longValue)
    // compressed / non-24bpp / truncated -> null
    val c = bmp(g); c(30) = 1 // BI_RLE8 compression flag
    assert(DHash.dhash(c) === null)
    val b16 = bmp(g); b16(28) = 16
    assert(DHash.dhash(b16) === null)
    (0 until 278 by 13).foreach(n => DHash.dhash(bmp(g).take(n)))
    val rnd = new scala.util.Random(23)
    (0 until 300).foreach { _ =>
      val x = new Array[Byte](rnd.nextInt(80)); rnd.nextBytes(x)
      DHash.dhash(x)
    }
    // band join: a one-bit perturbation pairs; unrelated pattern doesn't
    val d = Seq(
      (0L, bmp(g)),
      (1L, bmp((x, y) => if (x == 0 && y == 0) (g(0, 0) + 9) % 256 else g(x, y))),
      (2L, bmp((x, y) => (x * 67 + y * 101 + 31) % 256)),
      (3L, "not a bmp".getBytes))
      .toDF("doc_id", "payload")
    val pairs = Multimodal.perceptualDupPairs(d, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) <= 1)
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // bands = 1 degenerates to exact-dhash match (full 64-bit band),
    // NOT a single shared bucket (the 1L << 64 wrap would mask to 0)
    val one = Multimodal.perceptualDupPairs(d, "doc_id", bands = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!one.contains((0L, 2L)) && !one.contains((1L, 2L)),
      "bands=1 must only pair identical dhashes")
    // degenerate corpus: 300 identical thumbnails all hash to ONE
    // dhash — every band bucket holds the whole corpus, the quadratic
    // case the hot-bucket cap exists for
    val flat = bmp((_, _) => 128)
    val degenerate = spark.range(300)
      .select(col("id").as("doc_id"), lit(flat).as("payload"))
    assert(Multimodal.perceptualDupPairs(degenerate, "doc_id",
      maxBucketSize = 100).count() === 0L)
    assert(Multimodal.perceptualDupPairs(degenerate, "doc_id",
      maxBucketSize = 0).count() === 300L * 299 / 2)
    // byte-shingle payload pairs honor the same cap
    assert(Multimodal.nearDupPairs(degenerate, "doc_id",
      maxBucketSize = 100).count() === 0L)
  }

  test("AudioHeaders MP3: ID3 tag skipped, CBR frame estimate, non-" +
      "MPEG1-LayerIII null; fuzz/truncation never throw") {
    import graft.functions.AudioHeaders
    // ID3v2 tag of 20 content bytes + MPEG1 Layer III header:
    // 128 kbps (idx 9), 44100 (idx 0), joint stereo (mode 1), 1000
    // audio bytes
    val id3 = "ID3".getBytes ++ Array[Byte](3, 0, 0, 0, 0, 0, 20) ++
      Array.fill[Byte](20)(7)
    val frame = Array[Byte](0xff.toByte, 0xfb.toByte,
      ((9 << 4) | (0 << 2)).toByte, (1 << 6).toByte) ++
      Array.fill[Byte](996)(0)
    // second sync word at the first frame boundary (fs = 417) — the
    // r10 decoder verifies it before trusting the payload as MP3
    frame(417) = 0xff.toByte; frame(418) = 0xfb.toByte
    val r = AudioHeaders.info(id3 ++ frame)
    assert(r !== null)
    assert(r.getUTF8String(0).toString === "mp3")
    assert(r.getInt(1) === 2 && r.getInt(2) === 44100 && r.getInt(3) === 16)
    // frameSize = 144*128000/44100 = 417; floor(1000/417)=2 frames
    assert(r.getLong(4) === 2 * 1152L)
    assert(r.getLong(5) === 2 * 1152L * 1000 / 44100)
    // bare sync (no tag), mono (mode 3), 32 kHz (idx 2); fs = 144
    val bare = Array[Byte](0xff.toByte, 0xfb.toByte,
      ((1 << 4) | (2 << 2)).toByte, (3 << 6).toByte) ++
      Array.fill[Byte](500)(0)
    bare(144) = 0xff.toByte; bare(145) = 0xfb.toByte
    val b = AudioHeaders.info(bare)
    // garbage past the first frame boundary -> rejected (the 1-in-2000
    // random-binary false positive the second-sync check exists for)
    assert(AudioHeaders.info(Array[Byte](0xff.toByte, 0xfb.toByte,
      ((1 << 4) | (2 << 2)).toByte, (3 << 6).toByte) ++
      Array.fill[Byte](500)(7)) === null)
    assert(b !== null)
    assert(b.getInt(1) === 1 && b.getInt(2) === 32000)
    // MPEG-2 (version bits 10) and Layer II are out of scope -> null
    val v2 = bare.clone(); v2(1) = 0xf3.toByte // version 10
    assert(AudioHeaders.info(v2) === null)
    val l2 = bare.clone(); l2(1) = 0xfd.toByte // layer II
    assert(AudioHeaders.info(l2) === null)
    // free-format (idx 0) and bad (15) bitrates -> null
    val fr = bare.clone(); fr(2) = 0
    assert(AudioHeaders.info(fr) === null)
    val bad = bare.clone(); bad(2) = 0xf0.toByte
    assert(AudioHeaders.info(bad) === null)
    // ID3 size declaring past the payload -> null, never a throw
    val lying = "ID3".getBytes ++ Array[Byte](3, 0, 0, 0x7f, 0x7f, 0x7f, 0x7f) ++
      Array.fill[Byte](30)(0)
    assert(AudioHeaders.info(lying) === null)
    val rnd = new scala.util.Random(13)
    (0 until 500).foreach { _ =>
      val x = new Array[Byte](rnd.nextInt(64)); rnd.nextBytes(x)
      AudioHeaders.info(x)
    }
    val good = id3 ++ frame
    (0 until good.length by 7).foreach(n => AudioHeaders.info(good.take(n)))
  }

  test("EbmlHeaders: WebM/Matroska walk decodes doctype, duration, and" +
      " video dims; audio-only has no dims; fuzz/truncation never throw") {
    import graft.functions.EbmlHeaders
    def be(v: Long, n: Int): Array[Byte] =
      Array.tabulate(n)(i => ((v >> (8 * (n - 1 - i))) & 0xff).toByte)
    def el(id: Array[Byte], content: Array[Byte]): Array[Byte] = {
      require(content.length < 127)
      id ++ Array((0x80 | content.length).toByte) ++ content
    }
    val IdEbml = Array[Byte](0x1A, 0x45, 0xDF.toByte, 0xA3.toByte)
    val IdDocType = Array[Byte](0x42, 0x82.toByte)
    val IdSegment = Array[Byte](0x18, 0x53, 0x80.toByte, 0x67)
    val IdInfo = Array[Byte](0x15, 0x49, 0xA9.toByte, 0x66)
    val IdTcs = Array[Byte](0x2A, 0xD7.toByte, 0xB1.toByte)
    val IdDur = Array[Byte](0x44, 0x89.toByte)
    val IdTracks = Array[Byte](0x16, 0x54, 0xAE.toByte, 0x6B)
    def mk(doctype: String, withVideo: Boolean): Array[Byte] = {
      val hdr = el(IdEbml, el(IdDocType, doctype.getBytes))
      val dur = java.lang.Float.floatToIntBits(4096f).toLong
      val info = el(IdInfo,
        el(IdTcs, be(1000000L, 3)) ++ el(IdDur, be(dur, 4)))
      val video = el(Array(0xE0.toByte),
        el(Array(0xB0.toByte), be(640, 2)) ++
        el(Array(0xBA.toByte), be(360, 2)))
      val track = el(Array(0xAE.toByte),
        if (withVideo) video else be(1, 1))
      val seg = el(IdSegment, info ++ el(IdTracks, track))
      hdr ++ seg
    }
    val r = EbmlHeaders.info(mk("webm", withVideo = true))
    assert(r !== null)
    assert(r.getUTF8String(0).toString === "webm")
    assert(r.getLong(1) === 1000000L && r.getLong(2) === 4096L)
    assert(r.getLong(3) === 4096L) // 1e6 ns/tick => ms == ticks
    assert(r.getInt(4) === 640 && r.getInt(5) === 360)
    val mkv = EbmlHeaders.info(mk("matroska", withVideo = true))
    assert(mkv !== null)
    assert(mkv.getUTF8String(0).toString === "mkv")
    val audio = EbmlHeaders.info(mk("webm", withVideo = false))
    assert(audio !== null)
    assert(audio.getInt(4) === 0 && audio.getInt(5) === 0)
    assert(EbmlHeaders.info(mk("ogg!", withVideo = true)) === null)
    val rnd = new scala.util.Random(17)
    (0 until 500).foreach { _ =>
      val x = new Array[Byte](rnd.nextInt(80)); rnd.nextBytes(x)
      EbmlHeaders.info(x)
    }
    val good = mk("webm", withVideo = true)
    (0 until good.length).foreach(n => EbmlHeaders.info(good.take(n)))
  }

  test("Audio/VideoHeaders: declared sizes near 2^31 cannot wrap the" +
      " walk offset — null/partial result, never a throw") {
    import graft.functions.{AudioHeaders, VideoHeaders}
    def le32b(v: Long) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def be32b(v: Long) = Array[Byte](((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    // WAV chunk declaring size 0x7FFFFFFF: an Int offset would wrap
    // negative and read out of bounds; the walk must just run off the
    // end and return null (no fmt/data seen)
    val evilWav = "RIFF".getBytes ++ le32b(1000) ++ "WAVE".getBytes ++
      "junk".getBytes ++ le32b(0x7FFFFFFFL) ++ Array.fill[Byte](32)(0)
    assert(AudioHeaders.info(evilWav) === null)
    // and with the top bit set (unsigned size > Int.MaxValue)
    val evilWav2 = "RIFF".getBytes ++ le32b(1000) ++ "WAVE".getBytes ++
      "junk".getBytes ++ le32b(0xFFFFFFF0L) ++ Array.fill[Byte](32)(0)
    assert(AudioHeaders.info(evilWav2) === null)
    // MP4 moov child with size 0x80000010 after a valid mvhd: the trak
    // walk must stop (not step a negative size.toInt), keeping the
    // already-decoded movie header
    def box(name: String, content: Array[Byte]): Array[Byte] =
      be32b(8 + content.length) ++ name.getBytes ++ content
    val ftyp = box("ftyp", "isom".getBytes ++ be32b(0x200))
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++
      Array.fill[Byte](8)(0) ++ be32b(1000) ++ be32b(5000))
    val evilChild = be32b(0x80000010L) ++ "aaaa".getBytes
    val mp4 = ftyp ++ box("moov", mvhd ++ evilChild ++ Array.fill[Byte](16)(0))
    val r = VideoHeaders.info(mp4)
    assert(r !== null)
    assert(r.getInt(1) === 1000 && r.getLong(2) === 5000L)
  }

  test("unigramSurprisal: hand-computed corpus unigram LM; rare words" +
      " score higher than common ones") {
    val d = Seq((0L, "a a b"), (1L, "a rare")).toDF("doc_id", "text")
    // corpus counts: a=3, b=1, rare=1, total=5
    val out = TextAnalysis.unigramSurprisal(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def s(counts: Seq[Long]) =
      BigDecimal(counts.map(c => -math.log(c / 5.0)).sum / counts.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0L) === s(Seq(3L, 3L, 1L)))
    assert(out(1L) === s(Seq(3L, 1L)))
    assert(out(1L) > out(0L)) // the rare-word doc is more surprising
  }

  test("stripBoilerplateLines drops short and digit-dominated lines," +
      " keeps prose, and counts both sides") {
    val d = Seq(
      (0L, "a good long prose line here\n12:45 2024 99\nok\nanother fine line of text"),
      (1L, "x y z"), // exactly minWords
      (2L, ""))      // one empty line -> dropped
      .toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplateLines(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) === (("a good long prose line here\nanother fine line of text", 2L, 2L)))
    assert(out(1L) === (("x y z", 1L, 0L)))
    assert(out(2L) === (("", 0L, 1L)))
  }

  test("l2Normalize yields unit vectors (zero vector unchanged);" +
      " labelCentroids equals the hand-computed per-label mean") {
    import graft.functions.VectorFunctions.l2Normalize
    val d = Seq(
      (0L, 0, Array(3.0f, 4.0f)),
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 1, Array(0.0f, 0.0f)))
      .toDF("id", "label", "v")
    val norms = d.select(col("id"), l2Normalize(col("v")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(norms(0L).zip(Seq(0.6, 0.8)).forall {
      case (a, b) => math.abs(a - b) < 1e-12 })
    assert(norms(2L) === Seq(0.0, 0.0)) // zero vector: no NaN, unchanged
    val cents = Similarity.labelCentroids(d, "label", "v")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(cents(0).zip(Seq(2.0, 2.0)).forall {
      case (a, b) => math.abs(a - b) < 1e-12 })
    assert(cents(1) === Seq(0.0, 0.0))
  }

  test("normalizeUrl canonicalizes tracking-link variants; urlHost" +
      " lowercases and strips www/port; paths stay case-sensitive") {
    val d = Seq(
      (0L, "HTTP://WWW.Ex.COM:80/A/b/?utm_source=x&q=1&gclid=z#top"),
      (1L, "https://ex.com/A/b?q=1"),
      (2L, "https://ex.com:8443/path/"), // non-default port survives
      (3L, "http://ex.com/?utm_only=nope"))
      .toDF("id", "url")
    val out = d.select(col("id"),
        TextAnalysis.normalizeUrl(col("url")).as("n"),
        TextAnalysis.urlHost(col("url")).as("h"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    assert(out(0L) === (("http://ex.com/A/b/?q=1", "ex.com")))
    assert(out(1L) === (("https://ex.com/A/b?q=1", "ex.com")))
    assert(out(2L) === (("https://ex.com:8443/path", "ex.com")))
    assert(out(3L) === (("http://ex.com", "ex.com")))
  }

  test("curate pipeline, full path: length gate, line+exact+near dedup," +
      " decontamination, split assignment") {
    import graft.operators.Pipeline
    val base = Seq.tabulate(30)(i => s"w$i unique body text").mkString(" ")
    val other = Seq.tabulate(30)(i => s"z$i different words").mkString(" ")
    val evalDoc = Seq.tabulate(30)(i => s"e$i eval probe content").mkString(" ")
    // a long shared footer under two short, unrelated bodies: with the
    // footer the two texts are MinHash near-dups, without it disjoint
    val footer = Seq.tabulate(30)(i => s"f$i site footer menu link").mkString("\n")
    val coreA = Seq.tabulate(4)(i => s"a$i first body words").mkString(" ")
    val coreB = Seq.tabulate(4)(i => s"b$i second body words").mkString(" ")
    val d = Seq(
      (0L, base),            // survives
      (1L, base + " "),      // exact-normalized dup of 0 -> drops
      (2L, base + " tail"),  // near-dup of 0 (shares buckets) -> drops
      (3L, other),           // survives
      (4L, "too short"),     // length gate -> drops
      (5L, evalDoc),         // probe member -> drops
      (6L, base),            // verbatim copy of 0: line dedup empties
      (7L, other),           // it and 7 -> drop, no "" survivor
      (8L, s"$coreA\n$footer"), // near-dups only while they share the
      (9L, s"$coreB\n$footer")) // footer: line dedup strips 9's -> both
      .toDF("doc_id", "text")   // survive (bands of the FINAL text)
    val probe = Seq((100L, evalDoc)).toDF("doc_id", "text")
    val out = Pipeline.curate(d, "doc_id", "text", probe = Some(probe),
      minChars = 50, stripBoilerplate = true, nearDup = true, dedupLines = true)
    val ids = out.collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(ids === Seq(0L, 3L, 8L, 9L))
    // split column present and deterministic across runs
    val splits = out.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val again = Pipeline.curate(d, "doc_id", "text", probe = Some(probe),
      minChars = 50, stripBoilerplate = true, nearDup = true, dedupLines = true)
      .collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(splits === again)
    // the materialized rewrite stage must not pin CacheManager entries:
    // repeated curate() calls used to leak one cached plan each (r8
    // advice) — localCheckpoint leaves the SQL cache untouched. Clear
    // first: other suites' legitimate caches share this session.
    spark.catalog.clearCache()
    Pipeline.curate(d, "doc_id", "text", probe = Some(probe),
      minChars = 50, stripBoilerplate = true, nearDup = true,
      dedupLines = true).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "curate must not leave cached plans behind")
  }

  test("curate computes each document's MinHash band signature once:" +
      " the output plan holds only the probe's, and __bands stays inside") {
    import graft.functions.MinHashBucketsExpr
    import graft.operators.Pipeline
    val body = Seq.tabulate(20)(i => s"w$i body text words").mkString(" ")
    val d = Seq((0L, body), (1L, body + " tail"), (2L, s"$body\n$body"),
        (3L, Seq.tabulate(20)(i => s"z$i other words").mkString(" ")))
      .toDF("doc_id", "text")
    val probe = Seq((100L, body)).toDF("doc_id", "text")
    val stages = scala.collection.mutable.Buffer.empty[(String, DataFrame)]
    val out = Pipeline.curate(d, "doc_id", "text", probe = Some(probe),
      dedupLines = true, nearDup = true, stageFrames = Some(stages))
    assert(out.columns.toSeq === Seq("doc_id", "text", "split"))
    // the corpus signature lives in the checkpoint; near-dup owners,
    // losers and the decontamination read it, only the probe computes one
    val minhash = out.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.flatMap(_.collect { case m: MinHashBucketsExpr => m })
    }.flatten
    assert(minhash.size === 1)
    assert(stages.nonEmpty &&
      stages.forall { case (_, f) => !f.columns.contains("__bands") })
    // line dedup empties 2 (both its lines repeat 0's), near-dup drops
    // 1 (0 owns its buckets), the probe drops 0
    assert(out.collect().map(_.getAs[Long]("doc_id")).sorted.toSeq ===
      Seq(3L))
  }

  test("materialize: a narrow checkpoint is spread to defaultParallelism," +
      " a wide one keeps its partitions and runs one job") {
    val cores = spark.sparkContext.defaultParallelism
    val narrow = spark.range(0, 100, 1, 1).toDF("id")
    val spread = Dedup.materialize(narrow)
    assert(spread.rdd.getNumPartitions >= cores)
    assert(spread.collect().map(_.getLong(0)).sorted.toSeq === (0L until 100L))
    val wide = spark.range(0, 100, 1, cores + 2).toDF("id")
    var kept: DataFrame = null
    assert(SparkJobs.count(spark) { kept = Dedup.materialize(wide) } === 1)
    assert(kept.rdd.getNumPartitions === cores + 2)
    assert(kept.collect().map(_.getLong(0)).sorted.toSeq === (0L until 100L))
  }

  test("retention cohorts: first-day cohort, per-offset distinct actives," +
      " offsets beyond the horizon cut") {
    val day = graft.streaming.Events.NanosPerDay
    // user 1: days 0,1,2; user 2: days 0,2; user 3: day 1 only (later
    // cohort); user 1 has TWO events on day 0 (distinct collapse)
    val evs = Seq(
      (1L, 0L * day + 5), (1L, 0L * day + 9), (1L, 1L * day + 1),
      (1L, 2L * day + 1), (2L, 0L * day + 2), (2L, 2L * day + 7),
      (3L, 1L * day + 3))
      .toDF("user_id", "ts")
    val got = graft.streaming.Events.retention(evs, maxOffsetDays = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // cohort 0: day 0 -> users 1,2; offset 1 -> user 1 only
    // cohort 1: user 3; offset 2 rows (user 1&2 on day 2) cut by horizon
    assert(got === Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (1L, 0L) -> 1L))
  }

  test("sampleExactPerStratum: exactly n per stratum (all rows when the" +
      " stratum is smaller), deterministic, no window in the plan") {
    import graft.operators.Sampling
    val d = Seq.tabulate(60)(i =>
      (i.toLong, if (i < 50) "big" else "small")).toDF("id", "stratum")
    val out = Sampling.sampleExactPerStratum(d, "id", "stratum", n = 8)
    val by = out.collect().groupBy(_.getString(0))
    assert(by("big").length === 8)
    assert(by("small").length === 8) // 10 rows > 8
    val small3 = Sampling.sampleExactPerStratum(
      d.filter($"stratum" === "small"), "id", "stratum", n = 20)
    assert(small3.count() === 10L) // stratum smaller than n -> keep all
    assert(out.collect().map(_.toSeq).toSet ===
      Sampling.sampleExactPerStratum(d, "id", "stratum", n = 8)
        .collect().map(_.toSeq).toSet)
    assert(out.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExecBase => w
    }.isEmpty)
  }

  test("sampleExactPerStratum accepts non-numeric ids (same contract as" +
      " the sibling samplers) and stays deterministic") {
    import graft.operators.Sampling
    val d = Seq.tabulate(40)(i =>
      (s"doc-${"%03d".format(i)}", if (i < 30) "big" else "small"))
      .toDF("id", "stratum")
    val out = Sampling.sampleExactPerStratum(d, "id", "stratum", n = 5)
    val by = out.collect().groupBy(_.getString(0))
    assert(by("big").length === 5 && by("small").length === 5)
    // ranks are 1..n and ids are original (string) values
    assert(by("big").map(_.getInt(2)).sorted.toSeq === Seq(1, 2, 3, 4, 5))
    assert(by("big").forall(_.getString(1).startsWith("doc-")))
    assert(out.collect().map(_.toSeq).toSet ===
      Sampling.sampleExactPerStratum(d, "id", "stratum", n = 5)
        .collect().map(_.toSeq).toSet)
    // a NULL stratum is a real group (null-safe recovery join), and
    // duplicate (stratum, id) rows collapse to one sample member
    val withNull = Seq(
      ("a", Some("s")), ("b", Some("s")), ("b", Some("s")),
      ("c", None), ("d", None), ("c", None))
      .toDF("id", "stratum")
    val got = Sampling.sampleExactPerStratum(withNull, "id", "stratum", n = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(got.count(_._1 == null) === 2) // c and d, once each
    assert(got.length === 4)              // a, b, c, d — duplicates collapsed
    assert(got.groupBy(g => (g._1, g._2)).forall(_._2.length == 1))
  }

  test("mixToTokenBudget: fraction = min(1, budget*w/tokens), small" +
      " domains cap at keep-all, and the sample is deterministic") {
    import graft.operators.Sampling
    // big: 100 rows x 100 tok; small: 10 x 100; rest: 90 x 100
    val d = Seq.tabulate(200) { i =>
      val dom = if (i < 100) "big" else if (i < 110) "small" else "rest"
      (i.toLong, dom, 100L)
    }.toDF("id", "dom", "tok")
    val out = Sampling.mixToTokenBudget(d, "id", "dom", "tok",
      weights = Map("big" -> 0.5, "small" -> 0.4, "rest" -> 0.1),
      budget = 5000L)
    val by = out.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // small's share (2000 tokens) exceeds its 1000 tokens -> fraction 1
    assert(by("small") === 10L)
    // big's fraction is exactly 0.25 -> identical to the plain
    // stratified sampler at that fraction (same id-hash range test)
    val ref = Sampling.stratifiedHashSample(d, "id", "dom",
      Map("big" -> 0.25)).count()
    assert(by("big") === ref)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq ===
      Sampling.mixToTokenBudget(d, "id", "dom", "tok",
        weights = Map("big" -> 0.5, "small" -> 0.4, "rest" -> 0.1),
        budget = 5000L).collect().map(_.getLong(0)).sorted.toSeq)
    // weights that do not sum to 1 over observed domains are rejected
    intercept[IllegalArgumentException] {
      Sampling.mixToTokenBudget(d, "id", "dom", "tok",
        weights = Map("big" -> 0.5), budget = 5000L)
    }
  }

  test("streaming decontamination drops probe-colliding docs as they" +
      " arrive and matches the batch operator") {
    val base = Seq.tabulate(30)(i => s"w$i common phrase tail").mkString(" ")
    val corpusRows = Seq(
      (0L, base),                      // probe member -> drops
      (1L, base + " extra"),           // near-dup of probe -> drops
      (2L, Seq.tabulate(30)(i => s"z$i other words here").mkString(" ")))
    val corpus = corpusRows.toDF("doc_id", "text")
    val probe = corpus.filter($"doc_id" === 0L)
    val dir = java.nio.file.Files.createTempDirectory("sdecon").toString
    corpusRows.map { case (id, txt) => (id, txt, "en", "web", txt.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(dir)
    val q = graft.streaming.StreamingDedup
      .decontaminateStream(spark, dir, probe)
      .writeStream.format("memory").queryName("sdecon_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // a contaminated doc arriving in a later micro-batch also drops
    Seq((3L, base + " more", "en", "web", 0L), (4L, "tiny clean", "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT doc_id FROM sdecon_out")
      .collect().map(_.getLong(0)).sorted.toSeq
    val batch = graft.operators.Dedup.decontaminate(corpus, probe,
      "doc_id", "text").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got.filter(_ <= 2L) === batch) // stream ≡ batch on the same input
    assert(got === Seq(2L, 4L))
  }

  test("scrubContaminatedSpans: removes the quoted eval span (original" +
      " casing kept elsewhere); clean and short docs keep their word" +
      " sequence (space-joined rebuild)") {
    val span = (1 to 13).map(i => s"eval$i").mkString(" ")
    val corpus = Seq(
      (0L, s"Keep This Prefix $span and keep this suffix too ok fine"),
      (1L, "Totally Clean Document with enough words to be a doc here"),
      (2L, "short doc")).toDF("doc_id", "text")
    // probe quotes the span in DIFFERENT case: matching is normalized
    val probe = Seq(Tuple1(span.toUpperCase + " trailing probe context" +
      " words here to pad things out")).toDF("text")
    val out = Dedup.scrubContaminatedSpans(corpus, probe, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0L)._1 === "Keep This Prefix and keep this suffix too ok fine")
    assert(out(0L)._3 === 13L) // exactly the span's words dropped
    assert(out(1L) === ("Totally Clean Document with enough words to be a doc here", 11L, 0L))
    assert(out(2L) === ("short doc", 2L, 0L)) // < n words: untouched
  }

  test("scrubContaminatedSpans: overlapping probe grams merge, and the" +
      " whole doc can empty out") {
    val body = (1 to 20).map(i => s"w$i").mkString(" ")
    val corpus = Seq((0L, body)).toDF("doc_id", "text")
    val probe = Seq(Tuple1(body)).toDF("text")
    val r = Dedup.scrubContaminatedSpans(corpus, probe, "doc_id", "text",
      n = 13).collect()(0)
    assert(r.getString(1) === "")
    assert(r.getLong(2) === 0L && r.getLong(3) === 20L)
  }

  test("DedupIndex substring: three-step append telescopes exactly to" +
      " the from-scratch run (arrival order = id order)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsidx_spec")
      .toString
    val c0 = Seq(
      (0L, "alpha beta gamma delta one two three"),
      (1L, "unrelated words entirely here now")).toDF("doc_id", "text")
    val b1 = Seq(
      (2L, "intro alpha beta gamma delta tail"),
      (3L, "p q r s t u v")).toDF("doc_id", "text")
    val b2 = Seq(
      (4L, "p q r s closing words here"),
      (5L, "alpha beta gamma delta p q r s")).toDF("doc_id", "text")
    val inc = graft.sources.DedupIndex
      .buildSubstring(c0, "doc_id", "text", dir, spanWords = 4)
      .union(graft.sources.DedupIndex.appendSubstring(spark, dir, b1,
        "doc_id", "text"))
      .union(graft.sources.DedupIndex.appendSubstring(spark, dir, b2,
        "doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val scratch = Dedup.dedupSubstrings(c0.union(b1).union(b2),
        "doc_id", "text", spanWords = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(inc === scratch)
    // and the interesting rows are what they should be
    assert(inc(2L)._1 === "intro tail") // span removed, owner in index
    assert(inc(4L)._1 === "closing words here") // b1's span owns b2's copy
    assert(inc(5L)._1 === "") // both spans removed -> fully emptied
  }

  test("indexedDedupStream: cross-micro-batch survivors equal the batch" +
      " append, and ingestBatch replay is a no-op") {
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_sdidx_spec")
      .toString
    val (src, idx, out) = (s"$root/src", s"$root/idx", s"$root/out")
    val mk = (rows: Seq[(Long, String)]) =>
      rows.toDF("doc_id", "text")
    mk(Seq(0L -> "the quick brown fox jumps over the lazy dog here")).write
      .mode("overwrite").parquet(src)
    graft.sources.DedupIndex.build(
      spark.read.parquet(src), "doc_id", "text", idx)
    // batch 1: an exact dup of 0 (drops), a near dup of 0 (drops via
    // bands), a fresh doc (survives)
    // one durable checkpoint across BOTH runs: batch ids (and so the
    // ingest markers) are unique within a checkpoint lineage — the
    // documented production contract
    val cp = s"$root/cp"
    val srcStream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(src)
    def run(): Unit = graft.streaming.StreamingDedup.indexedDedupStream(
        srcStream.filter(col("doc_id") > 0L), idx, out, "doc_id", "text")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    mk(Seq(
      1L -> "the quick brown fox jumps over the lazy dog here",
      2L -> "the quick brown fox jumps over the lazy cat here",
      3L -> "completely different content with no overlap at all"))
      .write.mode("append").parquet(src)
    run()
    // second run resumes the checkpoint: only the NEW files process,
    // as a later batch id — a dup of run 1's survivor (drops against
    // state ABSORBED by run 1) and a fresh doc
    mk(Seq(
      4L -> "completely different content with no overlap at all",
      5L -> "nothing like anything seen before in this tiny corpus"))
      .write.mode("append").parquet(src)
    run()
    val got = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(3L, 5L))
    // replaying an already-ingested batch id is a marker-guarded no-op
    val hashesBefore = spark.read.parquet(s"$idx/hashes").count()
    graft.sources.DedupIndex.ingestBatch(spark, idx, out,
      mk(Seq(3L -> "completely different content with no overlap at all")),
      batchId = 0L, idCol = "doc_id", textCol = "text")
    assert(spark.read.parquet(s"$idx/hashes").count() === hashesBefore)
    assert(spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 5L))
  }

  test("indexedSubstringStream: two stream runs telescope to the" +
      " from-scratch substring dedup, and replay is a no-op") {
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_ssidx_spec")
      .toString
    val (src, idx, out, cp) =
      (s"$root/src", s"$root/idx", s"$root/out", s"$root/cp")
    val c0 = Seq(
      (0L, "alpha beta gamma delta one two three"),
      (1L, "unrelated words entirely here now")).toDF("doc_id", "text")
    val b1 = Seq(
      (2L, "intro alpha beta gamma delta tail"),
      (3L, "p q r s t u v")).toDF("doc_id", "text")
    val b2 = Seq(
      (4L, "p q r s closing words here"),
      (5L, "alpha beta gamma delta p q r s")).toDF("doc_id", "text")
    val aRew = graft.sources.DedupIndex
      .buildSubstring(c0, "doc_id", "text", idx, spanWords = 4)
      .collect()
    def run(): Unit = graft.streaming.StreamingDedup
      .indexedSubstringStream(
        spark.readStream.schema("doc_id LONG, text STRING").parquet(src),
        idx, out, "doc_id", "text")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    b1.write.mode("append").parquet(src); run()
    b2.write.mode("append").parquet(src); run()
    val inc = (aRew ++ spark.read.parquet(out)
        .select("doc_id", "text_kept", "n_words_kept", "n_words_dropped")
        .collect())
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val scratch = Dedup.dedupSubstrings(c0.union(b1).union(b2),
        "doc_id", "text", spanWords = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(inc === scratch)
    // marker-guarded replay of an ingested batch id: no state growth
    val gramsBefore = spark.read.parquet(s"$idx/grams").count()
    graft.sources.DedupIndex.ingestSubstringBatch(spark, idx, out,
      b1, batchId = 0L, idCol = "doc_id", textCol = "text")
    assert(spark.read.parquet(s"$idx/grams").count() === gramsBefore)
  }

  test("DedupIndex substring: append without a built gram index fails" +
      " loudly (tombstoned meta is the load gate)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsidx_meta")
      .toString
    val b = Seq((0L, "a b c d e")).toDF("doc_id", "text")
    intercept[Exception] {
      graft.sources.DedupIndex.appendSubstring(spark, dir, b,
        "doc_id", "text").collect()
    }
  }

  test("scrubContaminatedSpansBpe: cuts a quoted no-whitespace span the" +
      " word scrub provably cannot see; clean docs pass byte-identically") {
    // 45+ chars, no whitespace, no 'ab': fixture tokens = chars
    val block = "xqzjvkwpyhgfdsmnrtlcuoeixqzjvkwpyhgfdsmnrtlcu"
    val corpus = Seq(
      (0L, s"prefix $block suffix"),
      (1L, "a clean document\nwith a newline kept")).toDF("doc_id", "text")
    val probe = Seq(Tuple1(block + "trailingprobecontext")).toDF("text")
    val bpe = Dedup.scrubContaminatedSpansBpe(corpus, probe,
        "doc_id", "text", spanTokens = 40)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // the block is one whitespace "word": the word form finds nothing
    val word = Dedup.scrubContaminatedSpans(corpus, probe,
        "doc_id", "text", n = 13)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(word(0L) === 0L)
    // the BPE form removes the in-block token grams (the block's first
    // 40+ token positions are covered; suffix tokens survive)
    assert(bpe(0L)._3 >= 40L)
    assert(bpe(0L)._1.endsWith("suffix"))
    assert(!bpe(0L)._1.contains(block))
    // clean doc: null starts -> byte-identical rebuild, newline kept
    assert(bpe(1L) === ("a clean document\nwith a newline kept", 36L, 0L))
  }

  test("curate(scrubProbeNgrams): scrub precedes dedup — docs identical" +
      " after scrubbing collapse to one, emptied docs drop") {
    val span = (1 to 13).map(i => s"ev$i").mkString(" ")
    val corpus = Seq(
      (0L, s"alpha beta gamma delta eps $span zeta eta theta iota kappa"),
      (1L, "alpha beta gamma delta eps zeta eta theta iota kappa"),
      (2L, span)).toDF("doc_id", "text")
    val probe = Seq(Tuple1(span)).toDF("text")
    val out = graft.operators.Pipeline.curate(corpus, "doc_id", "text",
      probe = Some(probe), minChars = 1, scrubProbeNgrams = 13)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 0 scrubs to exactly 1's text -> exact dedup keeps min id 0;
    // 2 empties out in the scrub stage
    assert(out === Set(0L))
  }

  test("curateReport: funnel counts match direct stage counts and are" +
      " monotone non-increasing after input") {
    val d = Seq(
      (0L, "x" * 300), (1L, "x" * 300), // exact dups -> one survives
      (2L, "y" * 300), (3L, "short"),   // 3 fails the length gate
      (4L, "z" * 300)).toDF("doc_id", "text")
    val rep = graft.operators.Pipeline.curateReport { buf =>
      graft.operators.Pipeline.curate(d, "doc_id", "text",
        minChars = 100, stageFrames = Some(buf))
    }.collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(rep === Map("input" -> 5L, "length_gate" -> 4L,
      "exact_dedup" -> 3L, "output" -> 3L))
  }

  test("mixByTemperature: alpha=1 reproduces natural proportions" +
      " (= uniform fraction), alpha=0 equalizes domain shares") {
    val d = (1 to 400).map(i =>
      (i.toLong, if (i <= 360) "big" else "small", 10L))
      .toDF("doc_id", "domain", "tokens")
    // alpha=1: w_d = tk_d/total, fraction = budget/total for everyone
    val even = graft.operators.Sampling.mixByTemperature(
      d, "doc_id", "domain", "tokens", budget = 2000L, alpha = 1.0)
      .groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // budget/total = 0.5: both domains sampled at ~half, not equal share
    assert(even("big") > 150L && even("big") < 210L)
    assert(even("small") > 8L && even("small") < 32L)
    // alpha=0: equal shares; small domain (400 tokens) gets budget/2 =
    // 1000 > its size, so it caps at 1.0 and keeps ALL its docs
    val flat = graft.operators.Sampling.mixByTemperature(
      d, "doc_id", "domain", "tokens", budget = 2000L, alpha = 0.0)
      .groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(flat("small") === 40L)
    assert(flat("big") < 150L) // big capped well below natural share
  }

  test("upsampleToEpochs: copy counts per domain, unique (id, epoch)" +
      " keys, fraction hits its expected rate, 0-epoch domains drop") {
    val d = (1 to 300).map(i => (i.toLong,
      if (i <= 100) "books" else if (i <= 200) "web" else "junk"))
      .toDF("doc_id", "domain")
    val out = graft.operators.Sampling.upsampleToEpochs(
      d, "doc_id", "domain",
      epochs = Map("books" -> 2.5, "junk" -> 0.0), defaultEpochs = 1.0)
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1),
      r.getInt(2)))
    assert(rows.distinct.length === rows.length) // (id, epoch) unique
    assert(!rows.exists(_._2 == "junk"))
    val books = rows.filter(_._2 == "books")
    val perDoc = books.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perDoc.values.forall(n => n == 2 || n == 3))
    val third = perDoc.values.count(_ == 3)
    assert(third > 30 && third < 70) // ~50% of 100 docs get the 3rd copy
    assert(books.filter(_._1 == books.head._1).map(_._3).sorted.toSeq
      === (0 until perDoc(books.head._1)).toSeq) // dense epoch index
    assert(rows.count(_._2 == "web") === 100) // default 1.0 = one copy
    // determinism: same call, same membership
    val again = graft.operators.Sampling.upsampleToEpochs(
      d, "doc_id", "domain",
      epochs = Map("books" -> 2.5, "junk" -> 0.0), defaultEpochs = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(again.sortBy(x => (x._1, x._3)).toSeq
      === rows.sortBy(x => (x._1, x._3)).toSeq)
  }

  test("shufflePacks: a permutation (dense ranks per shard, every pack" +
      " exactly once), deterministic, and seed changes the order") {
    val packs = (for (b <- 0L until 4L; p <- 0L until 50L) yield (b, p))
      .toDF("pack_bucket", "pack_id")
    val s1 = graft.operators.Sampling.shufflePacks(packs, seed = 1L,
      nShards = 8).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getLong(3)))
    assert(s1.map(_._1).distinct.length === 200)
    s1.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq)
    }
    val s1b = graft.operators.Sampling.shufflePacks(packs, seed = 1L,
      nShards = 8).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getLong(3)))
    assert(s1b.sortBy(_._1).toSeq === s1.sortBy(_._1).toSeq)
    val s2 = graft.operators.Sampling.shufflePacks(packs, seed = 2L,
      nShards = 8).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getLong(3)))
    assert(s2.sortBy(_._1).toSeq !== s1.sortBy(_._1).toSeq)
  }

  test("extractHtmlText: script/style/comment contents vanish, block" +
      " closers become line breaks, entities decode once, whitespace" +
      " collapses") {
    val html = "<html><head><title>T</title><style>p{a:b}</style>" +
      "<script>var x = '<p>not text</p>';</script></head><body>" +
      "<!-- hidden -->\n<h1>Head &amp; Tail</h1><p>one  two</p>" +
      "<p>a &lt;tag&gt; literal &amp;amp; escaped</p><br>fin</body></html>"
    val out = Seq(Tuple1(html)).toDF("h")
      .select(TextAnalysis.extractHtmlText(col("h")).as("t"))
      .collect()(0).getString(0)
    assert(out === "T\nHead & Tail\none two\na <tag> literal &amp; escaped\nfin")
  }

  test("extractHtmlText: unclosed script leaves content; plain text" +
      " passes through; angle brackets in prose survive via entities") {
    val plain = Seq(Tuple1("no markup at all")).toDF("h")
      .select(TextAnalysis.extractHtmlText(col("h"))).collect()(0).getString(0)
    assert(plain === "no markup at all")
    val partial = Seq(Tuple1("a <b>bold</b> 1 &lt; 2 end")).toDF("h")
      .select(TextAnalysis.extractHtmlText(col("h"))).collect()(0).getString(0)
    assert(partial === "a bold 1 < 2 end")
  }

  test("Wet roundtrip: multi-line payloads with internal blank lines" +
      " survive, and content_length validates byte-exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wet_spec")
      .toString
    val d = Seq(
      ("http://a.example/1", "line one\nline two"),
      ("http://a.example/2", "para one\r\n\r\npara two after internal blank"),
      ("http://a.example/3", "plain")).toDF("uri", "text")
    graft.sources.Wet.writeWet(d, "uri", "text", dir, numFiles = 2)
    val back = graft.sources.Wet.readWet(spark, dir)
      .select("uri", "content_length", "text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(back.keySet === Set("http://a.example/1", "http://a.example/2",
      "http://a.example/3"))
    d.collect().foreach { r =>
      val (len, text) = back(r.getString(0))
      assert(text === r.getString(1))
      assert(len === text.getBytes("UTF-8").length.toLong)
    }
  }

  test("Mp4Codec: keyframe walk recovers exact sample bytes across" +
      " chunking shapes, honors stss sync selection, and nulls on" +
      " garbage") {
    import graft.functions.Mp4Codec
    def jb(seed: Int, len: Int): Array[Byte] =
      Array.tabulate(len)(i => ((seed * 31 + i * 7) & 0xff).toByte)
    val frames = Array(jb(1, 300), jb(2, 217), jb(3, 512), jb(4, 64),
      jb(5, 129))
    // one sample per chunk, no stss: all samples are sync (§8.6.2)
    val a = Mp4Codec.encode(frames, 72, 64, 1000, 40)
    val ka = Mp4Codec.keyframes(a, 5)
    assert(ka != null && ka.length === 5)
    frames.zip(ka).foreach { case (f, k) => assert(f.sameElements(k)) }
    assert(Mp4Codec.keyframes(a, 2).length === 2)
    // multi-sample chunks: 5 frames at 2/chunk = chunks (2,2,1) — a
    // two-run stsc whose within-chunk size-prefix arithmetic must
    // still slice every frame exactly
    val b = Mp4Codec.encode(frames, 72, 64, 1000, 40,
      samplesPerChunk = 2)
    val kb = Mp4Codec.keyframes(b, 5)
    assert(kb != null && kb.length === 5)
    frames.zip(kb).foreach { case (f, k) => assert(f.sameElements(k)) }
    // explicit stss: only samples 2 and 5 are sync — extraction must
    // skip non-sync samples entirely
    val c = Mp4Codec.encode(frames, 72, 64, 90000, 3003,
      syncSamples = Array(2, 5))
    val kc = Mp4Codec.keyframes(c, 5)
    assert(kc != null && kc.length === 2)
    assert(kc(0).sameElements(frames(1)) && kc(1).sameElements(frames(4)))
    // the header walk still reads this fixture's movie metadata
    val info = graft.functions.VideoHeaders.info(a)
    assert(info != null && info.getInt(1) === 1000)
    // garbage / truncation / wrong container: null, never throw
    assert(Mp4Codec.keyframes(null, 1) == null)
    assert(Mp4Codec.keyframes(Array[Byte](1, 2, 3), 1) == null)
    assert(Mp4Codec.keyframes(
      java.util.Arrays.copyOfRange(a, 0, a.length / 2), 1) == null)
    assert(Mp4Codec.keyframes("RIFFxxxxWAVE".getBytes, 1) == null)
  }

  test("Mp4Codec: the lazy table walk resolves keyframe 1 from a" +
      " BILLION-sample declared table in bounded work (uniform stsz," +
      " single chunk run) and still catches the out-of-payload tail") {
    import graft.functions.Mp4Codec
    def be32b(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def bx(name: String, parts: Array[Byte]*): Array[Byte] = {
      val body = parts.flatten.toArray
      be32b(body.length + 8L) ++ name.getBytes("US-ASCII") ++ body
    }
    val frame = Array.tabulate[Byte](100)(i => (i * 7).toByte)
    val ftyp = bx("ftyp", "isom".getBytes, be32b(0), "isom".getBytes)
    val mdat = bx("mdat", frame)
    val frameOff = ftyp.length + 8L
    val n = 1000000000L // a ~12-year recording at 30 fps; never iterated
    val stsd = bx("stsd", be32b(0), be32b(1),
      be32b(8), "jpeg".getBytes)
    val stsz = bx("stsz", be32b(0), be32b(100), be32b(n)) // uniform
    val stsc = bx("stsc", be32b(0), be32b(1),
      be32b(1), be32b(n), be32b(1)) // one run: all samples, one chunk
    val stco = bx("stco", be32b(0), be32b(1), be32b(frameOff))
    val moov = bx("moov", bx("trak", bx("mdia", bx("minf",
      bx("stbl", stsd, stsz, stsc, stco)))))
    val mp4 = ftyp ++ mdat ++ moov
    val t0 = System.nanoTime()
    val k = Mp4Codec.keyframes(mp4, 1) // no stss: sample 1 is sync
    val ms = (System.nanoTime() - t0) / 1e6
    assert(k != null && k.length === 1 && k(0).sameElements(frame),
      "keyframe 1 sliced from a 10^9-sample table")
    assert(ms < 1000, s"walk must be table-position-bounded, took $ms ms")
    // sample 3's uniform offset overruns the payload: caught, null
    // (sample 2 lands inside the trailing moov bytes — structurally
    // indistinguishable from a legal mdat placement, so only the
    // payload boundary is checkable)
    assert(Mp4Codec.keyframes(mp4, 3) == null,
      "out-of-payload tail sample must null the extraction")
  }

  test("Wet walk: a payload QUOTING a WARC header parses intact" +
      " through the Content-Length walk, where a version-line split" +
      " provably fragments it; malformed records quarantine by" +
      " length mismatch") {
    val quoting = "The spec example reads:\r\nWARC/1.0\r\n" +
      "WARC-Type: conversion\r\nContent-Length: 4\r\n\r\nfake\r\n\r\n" +
      "...and that is how a record looks."
    val dir = java.nio.file.Files.createTempDirectory("graft_wet_q")
      .toString
    val d = Seq(
      ("http://q.example/quoting", quoting),
      ("http://q.example/plain", "ordinary text")).toDF("uri", "text")
    graft.sources.Wet.writeWet(d, "uri", "text", dir, numFiles = 1)
    val back = graft.sources.Wet.readWet(spark, dir)
      .select("uri", "content_length", "text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(back.size === 2, s"exactly 2 records, got ${back.keySet}")
    assert(back("http://q.example/quoting")._2 === quoting,
      "quoted header must ride through the byte walk untouched")
    assert(back.values.forall { case (len, text) =>
      len === text.getBytes("UTF-8").length.toLong },
      "every record validates content_length = octet_length(text)")
    // the replaced regex form (unanchored split on the version line,
    // blank-line payload recovery) PROVABLY mis-parses this file:
    // the quoted "WARC/1.0\r\n" starts a phantom fragment
    val raw = spark.read.format("text").option("wholetext", "true")
      .load(dir)
    val regexForm = raw.select(
        explode(split(col("value"), "WARC/1\\.0\r\n")).as("__rec"))
      .filter(length(col("__rec")) > 0)
      .select(
        regexp_extract(col("__rec"),
          "WARC-Target-URI: ([^\r\n]+)", 1).as("uri"),
        regexp_extract(col("__rec"),
          "(?s)\r\n\r\n(.*)\r\n\r\n[\r\n]*$", 1).as("text"))
      .collect()
    assert(regexForm.length > 2,
      "the split form must fragment the quoting record")
    assert(!regexForm.exists(_.getString(1) == quoting),
      "no fragment recovers the quoting payload intact")
    // malformed record (declared length overruns the file): emitted
    // with the parsed length so the validation predicate quarantines
    // it — never silently dropped
    val badDir = java.nio.file.Files.createTempDirectory("graft_wet_b")
    java.nio.file.Files.write(badDir.resolve("bad.wet"),
      ("WARC/1.0\r\nWARC-Target-URI: http://b.example/x\r\n" +
        "Content-Length: 99999\r\n\r\nshort body").getBytes("UTF-8"))
    val bad = graft.sources.Wet.readWet(spark, badDir.toString)
      .select("uri", "content_length", "text").collect()
    assert(bad.length === 1)
    assert(bad(0).getString(0) === "http://b.example/x")
    assert(bad(0).getLong(1) === 99999L)
    assert(bad(0).getString(2) === "short body")
    assert(bad(0).getLong(1) !=
      bad(0).getString(2).getBytes("UTF-8").length.toLong,
      "the quarantine predicate must fire")
    // UNDER-declared length: the payload parses self-consistently, and
    // the orphan span between its end and the next record emits as its
    // OWN quarantine record (null content_length) — nothing silently
    // drops, nothing escapes quarantine
    val shortDir = java.nio.file.Files.createTempDirectory("graft_wet_s")
    java.nio.file.Files.write(shortDir.resolve("s.wet"),
      ("WARC/1.0\r\nWARC-Target-URI: http://s.example/a\r\n" +
        "Content-Length: 4\r\n\r\nbody ORPHAN-SPAN\r\n\r\n" +
        "WARC/1.0\r\nWARC-Target-URI: http://s.example/b\r\n" +
        "Content-Length: 4\r\n\r\nnext\r\n\r\n").getBytes("UTF-8"))
    val sh = graft.sources.Wet.readWet(spark, shortDir.toString)
      .select("uri", "content_length", "text").collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)),
        r.getString(2))).sortBy(_._1)
    assert(sh.length === 3, s"2 records + 1 orphan, got ${sh.toSeq}")
    assert(sh.contains(("http://s.example/a", 4L: java.lang.Long, "body")))
    assert(sh.contains(("http://s.example/b", 4L: java.lang.Long, "next")))
    val orphan = sh.find(_._2 == null).get
    assert(orphan._1 === "" && orphan._3 === " ORPHAN-SPAN",
      s"orphan span quarantines with null length: $orphan")
  }

  test("cluster-balanced sampling caps a head cluster at exactly n " +
      "and keeps a tail cluster whole — deterministically") {
    import graft.operators.Sampling
    // 400 vectors near axis e1 (head topic), 3 near axis e2 (tail)
    val vecs = spark.range(403).select(col("id").as("vec_id"),
      when(col("id") < 400,
        array(lit(1.0f), (col("id") % 7).cast("float") / 100f, lit(0.0f)))
        .otherwise(array(lit(0.0f), lit(0.01f), lit(1.0f)))
        .as("embedding"))
    val centroids = Seq(
      (0L, Array(1.0, 0.0, 0.0)), (1L, Array(0.0, 0.0, 1.0))
    ).toDF("centroid_id", "__cv")
    val out = Sampling.clusterBalancedSample(
      vecs, "vec_id", "embedding", centroids, n = 5)
    val byCluster = out.collect()
      .groupBy(_.getAs[Long]("centroid_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    assert(byCluster(0L).size === 5)
    assert(byCluster(0L).forall(_ < 400L))
    assert(byCluster(1L) === Set(400L, 401L, 402L))
    val again = Sampling.clusterBalancedSample(
      vecs, "vec_id", "embedding", centroids, n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("Bloom decontamination has NO false negatives (every inserted " +
      "gram tests positive) and equals the exact path even under a " +
      "pathologically tiny, collision-saturated filter") {
    import graft.functions.TextFunctions.{bloomContains, wordGramHash128, words => twords}
    val train = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "one two three four five six seven eight"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (3L, "totally unrelated content nothing shared here at all")
    ).toDF("doc_id", "text")
    val probe = Seq(
      Tuple1("prefix words alpha beta gamma delta epsilon zeta eta theta suffix")
    ).toDF("text")
    // no false negatives: every probe gram tests positive in a filter
    // built from the probe grams themselves
    val pg = probe.select(explode(
      wordGramHash128(twords(col("text")), 4)).as("__h")).distinct()
    val bloom = graft.operators.Dedup.buildGramBloom(pg, mBits = 1024, k = 3)
    assert(pg.filter(!bloomContains(col("__h"), bloom, 3)).count() === 0L)
    // exact equality under a 64-bit filter (every bit set within a few
    // insertions — worst-case fp), vs the broadcast-exact reference
    val exact = graft.operators.Dedup
      .decontaminateExact(train, probe, "doc_id", "text", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaBloom = graft.operators.Dedup
      .decontaminateExactBloom(train, probe, "doc_id", "text", n = 4,
        mBits = 64, bloomK = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaBloom === exact)
    assert(exact === Set(1L, 3L)) // 0 and 2 share 4-grams with the probe
  }

  test("Bloom prefilter actually prunes: a clean corpus's gram stream " +
      "passes ~zero grams through a well-sized filter") {
    import graft.functions.TextFunctions.{bloomContains, wordGramHash128, words => twords}
    val corpus = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("document body number "), col("id"),
        lit(" with its own distinct running text and no probe overlap "),
        col("id") * 7).cast("string").as("text"))
    val probe = Seq(Tuple1("held out benchmark question completely absent " +
      "from the corpus body text stream")).toDF("text")
    val pg = probe.select(explode(
      wordGramHash128(twords(col("text")), 4)).as("__h")).distinct()
    val bloom = graft.operators.Dedup.buildGramBloom(pg, mBits = 1 << 16, k = 4)
    val corpusGrams = corpus.select(explode(
      wordGramHash128(twords(col("text")), 4)).as("__h"))
    val total = corpusGrams.count()
    val passed = corpusGrams
      .filter(bloomContains(col("__h"), bloom, 4)).count()
    assert(total > 1000L)
    // fp rate with ~10 insertions in 2^16 bits is ~(1-e^(-40/65536))^4
    // ≈ 1.4e-13 — zero passes expected; allow a couple for paranoia
    assert(passed <= 2L, s"$passed of $total grams passed a filter " +
      "that should prune essentially everything")
  }

  test("HLL estimate lands within the published error bound in the " +
      "harmonic branch (50k distinct >> 2.5m, the branch the sf gates " +
      "never reach) and at exactly 0 on empty input") {
    import graft.operators.Sketches
    val p = 12
    val n = 50000L
    val vals = spark.range(n).select(concat(lit("value-"), col("id")).as("v"))
    val est = Sketches.distinctApprox(vals, col("v"), p).head()
    val raw = est.getAs[Double]("raw_estimate")
    val e = est.getAs[Double]("estimate")
    // 50k >> 2.5 * 4096: correction must not fire
    assert(e === raw)
    // 3 sigma of the 1.04/sqrt(m) standard error
    val bound = 3.0 * 1.04 / math.sqrt((1L << p).toDouble)
    assert(math.abs(e - n.toDouble) / n.toDouble < bound,
      s"estimate $e vs exact $n exceeds ${bound * 100}%")
    val empty = Sketches.distinctApprox(
      vals.filter(lit(false)), col("v"), p).head()
    assert(empty.getAs[Long]("v_zero") === (1L << p))
    assert(empty.getAs[Double]("estimate") === 0.0)
  }

  test("HLL register merge is a CRDT join: arbitrary splits, merge " +
      "order, and re-merged duplicates all commit the from-scratch " +
      "registers") {
    import graft.operators.Sketches
    val p = 10
    val vals = spark.range(3000).select(
      concat(lit("v"), col("id")).as("v"), (col("id") % 3).as("part"))
    def regs(df: org.apache.spark.sql.DataFrame) =
      Sketches.hllRegisters(df, col("v"), p)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val full = toMap(regs(vals))
    val parts = (0 to 2).map(i => regs(vals.filter(col("part") === i)))
    // out-of-order merge plus an idempotent re-merge of part 1
    val merged = Sketches.hllMerge(
      Sketches.hllMerge(parts(2), parts(0)),
      Sketches.hllMerge(parts(1), parts(1)))
    assert(toMap(merged) === full)
  }

  test("quality buckets: per-group score-value thresholds put fluent " +
      "docs in head, rare-word docs in tail, ~equal doc-count terciles, " +
      "independently per group") {
    import graft.operators.TextAnalysis
    // 9 docs per lang; lang B's words are disjoint from A's so its
    // thresholds must be computed independently
    def mk(lang: String, off: Int) = (0 until 9).map { i =>
      val text =
        if (i < 3) s"common$lang common$lang common$lang common$lang"
        else if (i < 6) s"common$lang mid$lang$i mid$lang$i"
        else s"rare$lang${i}a rare$lang${i}b rare$lang${i}c rare$lang${i}d"
      (off + i.toLong, lang, text)
    }
    val d = (mk("A", 0) ++ mk("B", 100)).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.qualityBuckets(d, "doc_id", "text", "lang")
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("surprisal"), r.getAs[String]("bucket")))
    for (lang <- Seq("A", "B")) {
      val rows = out.filter(_._1 == lang)
      assert(rows.length === 9)
      val byBucket = rows.groupBy(_._4).view.mapValues(_.map(_._2).toSet).toMap
      assert(byBucket.keySet === Set("head", "middle", "tail"))
      assert(byBucket("head").size === 3 && byBucket("middle").size === 3 &&
        byBucket("tail").size === 3)
      // score ordering: max head surprisal < min tail surprisal
      val h = rows.filter(_._4 == "head").map(_._3).max
      val t = rows.filter(_._4 == "tail").map(_._3).min
      assert(h < t)
      // the three repeated-common-word docs are the head
      val base = if (lang == "A") 0L else 100L
      assert(byBucket("head") === Set(base, base + 1, base + 2))
    }
  }

  test("contamination report: fully-quoted probe scores 1.0, novel " +
      "scores 0.0, partial overlap counts grams exactly") {
    val corpusWords = (1 to 20).map(i => s"c$i").mkString(" ")
    val corpus = Seq((0L, corpusWords)).toDF("doc_id", "text")
    val probe = Seq(
      (10L, (3 to 9).map(i => s"c$i").mkString(" ")), // substring -> 1.0
      (11L, (1 to 8).map(i => s"x$i").mkString(" ")), // novel -> 0.0
      (12L, "c1 c2 c3 c4 c5 x1 x2 x3 x4 x5") // 2 of 7 grams overlap
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.contaminationReport(
      corpus, probe, "doc_id", "text", n = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_contaminated"),
          r.getAs[Double]("contamination"))).toMap
    assert(out(10L) === ((4L, 4L, 1.0)))
    assert(out(11L) === ((5L, 0L, 0.0)))
    assert(out(12L)._1 === 7L)
    assert(out(12L)._2 === 2L)
    assert(math.abs(out(12L)._3 - 2.0 / 7.0) < 1e-12)
  }

  test("curate ccnet stage drops each language's tail tercile after " +
      "dedup and snaps into the funnel") {
    def mk(lang: String, off: Int) = (0 until 9).map { i =>
      val text =
        if (i < 3) s"common$lang common$lang common$lang common$lang"
        else if (i < 6) s"common$lang mid$lang$i mid$lang$i"
        else s"rare$lang${i}a rare$lang${i}b rare$lang${i}c rare$lang${i}d"
      (off + i.toLong, lang, text)
    }
    val d = (mk("A", 0) ++ mk("B", 100)).toDF("doc_id", "lang", "text")
    val buf = scala.collection.mutable.Buffer.empty[(String,
      org.apache.spark.sql.DataFrame)]
    val out = graft.operators.Pipeline.curate(d, "doc_id", "text",
      minChars = 1, ccnetBucketBy = "lang", stageFrames = Some(buf))
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // the three identical common docs collapse to doc 0 in the EXACT
    // dedup FIRST (the CCNet stage order under test), so the terciles
    // run over 7 survivors per lang: head = {0} (cum 1 ≤ 7/3), middle =
    // the three equal-scored mid docs (cum 4 ≤ 14/3), tail = the rares
    assert(kept === Set(0L, 3L, 4L, 5L, 100L, 103L, 104L, 105L))
    assert(buf.map(_._1).contains("ccnet_gate"))
    val atGate = buf.find(_._1 == "ccnet_gate").get._2.count()
    assert(atGate === 8L)
  }

  test("frozen bucket model scores unseen docs: OOV words take the " +
      "pseudo-count floor, fluent docs still land head, and an " +
      "unmodeled language defaults to tail") {
    import graft.operators.TextAnalysis
    val train = (0 until 9).map { i =>
      val text =
        if (i < 3) "commonA commonA commonA commonA"
        else if (i < 6) s"commonA midA$i midA$i"
        else s"rareA${i}a rareA${i}b rareA${i}c rareA${i}d"
      (i.toLong, "A", text)
    }.toDF("doc_id", "lang", "text")
    val model = TextAnalysis.qualityBucketTrain(
      train, "doc_id", "text", "lang")
    val newDocs = Seq(
      (100L, "A", "commonA commonA commonA"), // fluent -> head
      (101L, "A", "never seen words entirely"), // all OOV -> max surprisal
      (102L, "Z", "commonA commonA commonA") // unmodeled group -> tail
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.qualityBucketScore(
      newDocs, "doc_id", "text", model)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("surprisal"), r.getAs[String]("bucket"))).toMap
    assert(out(100L)._2 === "head")
    // every word backs off to count 1: surprisal = -ln(1/total) exactly
    val total = model.total.toDouble
    assert(math.abs(out(101L)._1 - BigDecimal(-math.log(1.0 / total))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(out(101L)._2 === "tail")
    assert(out(102L)._2 === "tail")
  }

  test("bottom-k sample index telescopes across three appends, ignores " +
      "replayed batches, and keeps the stored payload when an id " +
      "reappears changed") {
    import graft.operators.Sampling
    val dir = java.nio.file.Files.createTempDirectory("graft_bks_spec")
      .toString
    val all = spark.range(900).select(col("id").as("doc_id"),
      concat(lit("p"), col("id")).as("payload"))
    val parts = (0 to 2).map(i => all.filter(col("doc_id") % 3 === i))
    Sampling.writeSampleIndex(parts(0), "doc_id", dir, k = 40)
    Sampling.appendSampleIndex(parts(1), "doc_id", dir)
    Sampling.appendSampleIndex(parts(2), "doc_id", dir)
    def rows() = Sampling.loadSampleIndex(spark, dir).rows.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("payload"),
        r.getAs[Int]("sample_rank"))).toSet
    val threeStep = rows()
    val fromScratch = Sampling.bottomKSample(all, "doc_id", 40).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("payload"),
        r.getAs[Int]("sample_rank"))).toSet
    assert(threeStep === fromScratch)
    // replay: identical sample
    Sampling.appendSampleIndex(parts(1), "doc_id", dir)
    assert(rows() === threeStep)
    // a sampled id reappearing with a NEW payload keeps the stored one
    // (arrival-order priority)
    val someId = threeStep.head._1
    Sampling.appendSampleIndex(
      Seq((someId, "CHANGED")).toDF("doc_id", "payload"), "doc_id", dir)
    assert(rows() === threeStep)
  }

  test("CMS point estimates never underestimate, overestimate within " +
      "the published bound under real collisions, and weighted counters " +
      "sum weights exactly") {
    import graft.operators.Sketches
    // zipf-ish: value v appears ~2v+1 times; 20k rows over ~141 distinct
    val vals = spark.range(20000).select(
      concat(lit("k"), floor(sqrt(col("id").cast("double"))).cast("long"))
        .as("v"))
    val depth = 4
    val width = 64 // deliberately narrow: collisions guaranteed
    val counters = Sketches.cmsCounters(vals, col("v"), depth, width)
    val exact = vals.groupBy(col("v")).agg(count(lit(1)).as("exact_cnt"))
    val est = Sketches.cmsEstimate(counters, exact, col("v"), depth, width)
      .collect().map(r => (r.getAs[String]("v"),
        r.getAs[Long]("exact_cnt"), r.getAs[Long]("est")))
    assert(est.forall { case (_, ex, e) => e >= ex },
      "CMS must never underestimate")
    assert(est.exists { case (_, ex, e) => e > ex },
      "a 64-wide sketch over 141 keys must show real collisions")
    // CM bound: overestimate <= e·N/width w.p. 1-e^-depth; allow 3x
    val n = 20000.0
    val bound = 3.0 * math.E * n / width
    assert(est.forall { case (_, ex, e) => (e - ex) <= bound },
      s"overestimate exceeded ${bound.toInt}")
    // weighted form: per-bucket cnt is the exact SUM of weights
    val wdf = Seq(("a", 5L), ("b", 7L), ("a", 2L)).toDF("v", "wt")
    val wc = Sketches.cmsCounters(wdf, col("v"), 2, 1024,
      weight = col("wt"))
    val estW = Sketches.cmsEstimate(wc,
      Seq("a", "b").toDF("v"), col("v"), 2, 1024)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("est")).toMap
    assert(estW === Map("a" -> 7L, "b" -> 7L))
  }

  test("CMS stream ingestion is exactly-once: a replayed batch id " +
      "no-ops instead of double-counting, a NEW batch id still merges, " +
      "and batch appendCms leaves the cursor intact") {
    import graft.operators.Sketches
    val dir = java.nio.file.Files.createTempDirectory("graft_cms_ing")
      .toString
    val b0 = Seq("a", "a", "b").toDF("v")
    val b1 = Seq("b", "c").toDF("v")
    def counters() = Sketches.loadCms(spark, dir).counters.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    Sketches.ingestCmsBatch(b0, col("v"), dir, batchId = 0L, 2, 256)
    val after0 = counters()
    // replay of batch 0: cursor says absorbed -> no-op
    Sketches.ingestCmsBatch(b0, col("v"), dir, batchId = 0L, 2, 256)
    assert(counters() === after0)
    Sketches.ingestCmsBatch(b1, col("v"), dir, batchId = 1L, 2, 256)
    val after1 = counters()
    assert(after1 === Sketches.cmsCounters(b0.union(b1), col("v"), 2, 256)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap)
    // replay of the LAST absorbed batch (the only legitimate Structured
    // Streaming replay): still a no-op
    Sketches.ingestCmsBatch(b1, col("v"), dir, batchId = 1L, 2, 256)
    assert(counters() === after1)
    // a batch id BELOW the cursor is never a replay — it means the
    // stream's checkpoint was lost and ids restarted; silently
    // discarding those batches would lose data, so it fails loudly
    val e = intercept[IllegalArgumentException] {
      Sketches.ingestCmsBatch(b0, col("v"), dir, batchId = 0L, 2, 256)
    }
    assert(e.getMessage.contains("checkpoint was lost"))
    assert(counters() === after1)
    // a plain batch append advances the epoch WITHOUT clobbering the
    // stream cursor: the next stream batch id is still compared against
    // the absorbed high-water mark
    Sketches.appendCms(Seq("d").toDF("v"), col("v"), dir)
    Sketches.ingestCmsBatch(b1, col("v"), dir, batchId = 1L, 2, 256)
    assert(counters() === Sketches.cmsCounters(
      b0.union(b1).union(Seq("d").toDF("v")), col("v"), 2, 256)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap)
  }

  test("CMS merge is counter-wise sum — NOT idempotent: a replayed " +
      "batch double-counts (why CMS streaming ingest needs markers " +
      "where the HLL does not)") {
    import graft.operators.Sketches
    val vals = spark.range(1000).select(
      concat(lit("x"), col("id") % 50).as("v"))
    def cnts(df: org.apache.spark.sql.DataFrame) =
      Sketches.cmsCounters(df, col("v"), 3, 256)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = toMap(cnts(vals))
    val halves = Seq(vals.filter(col("id") % 2 === 0),
      vals.filter(col("id") % 2 =!= 0)).map(cnts)
    assert(toMap(Sketches.cmsMerge(halves(0), halves(1))) === full)
    val doubled = toMap(Sketches.cmsMerge(halves(0), halves(0)))
    assert(doubled === toMap(halves(0)).map { case (k, c) => k -> 2 * c })
  }

  test("HLL overlap: inclusion-exclusion recovers a known 10k " +
      "intersection of two 30k sets within sketch error") {
    import graft.operators.Sketches
    val p = 14
    val a = Sketches.hllRegisters(
      spark.range(0, 30000).select(concat(lit("v"), col("id")).as("v")),
      col("v"), p)
    val b = Sketches.hllRegisters(
      spark.range(20000, 50000).select(concat(lit("v"), col("id")).as("v")),
      col("v"), p)
    val r = Sketches.hllOverlapEstimate(a, b, p).head()
    val (ea, eb, eu, ei) = (r.getAs[Double]("est_a"),
      r.getAs[Double]("est_b"), r.getAs[Double]("est_union"),
      r.getAs[Double]("est_intersection"))
    // each arm within 3 sigma (~2.4% at p=14)
    assert(math.abs(ea - 30000) < 2500 && math.abs(eb - 30000) < 2500)
    assert(math.abs(eu - 50000) < 4000)
    // intersection is a difference of estimates — wider tolerance
    assert(math.abs(ei - 10000) < 3000,
      s"intersection estimate $ei too far from 10000")
    // disjoint sets: intersection clamps at >= 0, small vs set size
    val c = Sketches.hllRegisters(
      spark.range(0, 5000).select(concat(lit("x"), col("id")).as("v")),
      col("v"), p)
    val d = Sketches.hllRegisters(
      spark.range(0, 5000).select(concat(lit("y"), col("id")).as("v")),
      col("v"), p)
    val rd = Sketches.hllOverlapEstimate(c, d, p).head()
    val eid = rd.getAs[Double]("est_intersection")
    assert(eid >= 0.0 && eid < 500.0)
    // derived ratios: jaccard = inter/union (true 10k/50k = 0.2),
    // containment = inter/side (true 10k/30k = 1/3)
    assert(math.abs(r.getAs[Double]("est_jaccard") - 0.2) < 0.07)
    assert(math.abs(r.getAs[Double]("containment_a") - 1.0 / 3) < 0.11)
    assert(math.abs(r.getAs[Double]("containment_b") - 1.0 / 3) < 0.11)
    assert(rd.getAs[Double]("est_jaccard") < 0.1)
  }

  test("grouped HLL registers and estimates equal the per-group flat " +
      "sketches (one corpus pass, no cross-group bleed)") {
    import graft.operators.Sketches
    val d = spark.range(2000).select(
      (col("id") % 3).cast("string").as("g"),
      concat(lit("v"), col("id") % 700).as("v"))
    val grouped = Sketches.hllRegistersBy(d, Seq("g"), col("v"), p = 10)
    val estBy = Sketches.hllEstimateBy(grouped, Seq("g"), p = 10)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("estimate")).toMap
    for (g <- Seq("0", "1", "2")) {
      val flat = Sketches.hllRegisters(
          d.filter(col("g") === g), col("v"), p = 10)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val slice = grouped.filter(col("g") === g)
        .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
      assert(slice === flat, s"group $g registers diverge")
      val flatEst = Sketches.hllEstimate(
        Sketches.hllRegisters(d.filter(col("g") === g), col("v"), 10), 10)
        .head().getAs[Double]("estimate")
      assert(estBy(g) === flatEst, s"group $g estimate diverges")
    }
  }

  test("HLL artifact epochs: append bumps the committed version, " +
      "re-appending the same batch leaves registers unchanged, and an " +
      "orphan epoch directory (the crash-before-meta-flip window) never " +
      "shadows the committed epoch") {
    import graft.operators.Sketches
    val dir = java.nio.file.Files.createTempDirectory("graft_hll_spec")
      .toString
    val a = spark.range(500).select(concat(lit("a"), col("id")).as("v"))
    val b = spark.range(300).select(concat(lit("b"), col("id")).as("v"))
    Sketches.writeHll(a, col("v"), dir, p = 10)
    Sketches.appendHll(b, col("v"), dir)
    def regMap() = Sketches.loadHll(spark, dir).registers.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val afterB = regMap()
    assert(afterB === Sketches.hllRegisters(a.union(b), col("v"), 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap)
    // idempotent replay: same batch again, same registers
    Sketches.appendHll(b, col("v"), dir)
    assert(regMap() === afterB)
    // an uncommitted epoch dir left by a crash is inert: load follows
    // meta, and the next append's cleanup removes it
    val orphan = new java.io.File(s"$dir/registers_v99")
    orphan.mkdirs()
    assert(regMap() === afterB)
    Sketches.appendHll(b, col("v"), dir)
    assert(!orphan.exists, "stale epoch must be cleaned on commit")
    assert(regMap() === afterB)
    // torn meta flip (epoch payloads present, meta gone): append must
    // FAIL LOUDLY, never silently re-initialize over absorbed history
    val metaDir = new java.io.File(s"$dir/meta")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete()
    }
    wipe(metaDir)
    val e = intercept[IllegalArgumentException] {
      Sketches.appendHll(b, col("v"), dir)
    }
    assert(e.getMessage.contains("torn meta flip"))
    // cold-start crash remnant (LONE registers_v0, no meta): nothing
    // was ever committed, so re-initialization IS permitted — this is
    // what lets a stream's batch-0 replay self-heal without markers
    val dir2 = java.nio.file.Files.createTempDirectory("graft_hll_cold")
      .toString
    Sketches.writeHll(a, col("v"), dir2, p = 10)
    wipe(new java.io.File(s"$dir2/meta"))
    Sketches.appendHll(a, col("v"), dir2, p = 10)
    val healed = Sketches.loadHll(spark, dir2)
    assert(healed.p === 10)
    assert(healed.registers.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap ===
      Sketches.hllRegisters(a, col("v"), 10).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap)
  }

  test("cmsEstimate tolerates candidate frames whose columns collide " +
      "with the counter schema (row/bucket/cnt)") {
    import graft.operators.Sketches
    val vals = Seq("a", "a", "b").toDF("v")
    val counters = Sketches.cmsCounters(vals, col("v"), 2, 256)
    // candidates carry row/bucket/cnt columns of their own
    val cands = Seq(("a", 0, 9L, 9L), ("b", 1, 9L, 9L), ("c", 2, 9L, 9L))
      .toDF("v", "row", "bucket", "cnt")
    val out = Sketches.cmsEstimate(counters, cands, col("v"), 2, 256)
      .collect().map(r => r.getAs[String]("v") -> r.getAs[Long]("est")).toMap
    assert(out === Map("a" -> 2L, "b" -> 1L, "c" -> 0L))
  }

  test("release manifest verifies the shipped shards and catches a" +
      " tampered row") {
    import graft.sources.Release
    import org.apache.spark.sql.types._
    val d = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"), (3L, "delta"),
      (4L, "epsilon")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_rel_spec")
      .toString
    Release.writeRelease(d, "doc_id", "text", dir, nShards = 2)
    val schema = StructType(d.schema.fields :+ StructField("shard", LongType))
    val loaded = Release.loadRelease(spark, dir, schema)
    assert(Release.validateRelease(loaded, "doc_id", "text").isEmpty)
    assert(loaded.rows.count() === 5)
    // tamper: swap one doc's text post-publication — same doc count and
    // LENGTH, so only the checksum can see it
    val tampered = loaded.copy(rows = loaded.rows.withColumn("text",
      when(col("doc_id") === 0L, lit("aleph")).otherwise(col("text"))))
    val bad = Release.validateRelease(tampered, "doc_id", "text")
    assert(bad.count() === 1, "checksum must flag the tampered shard")
    // a manifest shard with NO data rows at all is also flagged (full
    // outer join side)
    val empty = loaded.copy(rows = loaded.rows.filter(lit(false)))
    assert(Release.validateRelease(empty, "doc_id", "text").count() === 2)
  }

  test("appendRelease telescopes to the from-scratch manifest and fails" +
      " loudly without a published release") {
    import graft.sources.Release
    import org.apache.spark.sql.types._
    val a = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    val b = Seq((10L, "epsilon"), (11L, "zeta")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_rel_app")
      .toString
    Release.writeRelease(a, "doc_id", "text", s"$dir/r", nShards = 4)
    Release.appendRelease(b, "doc_id", "text", s"$dir/r")
    val schema = StructType(a.schema.fields :+ StructField("shard", LongType))
    val loaded = Release.loadRelease(spark, s"$dir/r", schema)
    assert(Release.validateRelease(loaded, "doc_id", "text").isEmpty)
    assert(loaded.rows.count() === 6)
    // merged manifest == from-scratch manifest of the union
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    Release.writeRelease(a.union(b), "doc_id", "text", s"$dir/full",
      nShards = 4)
    assert(rows(loaded.manifest) === rows(
      Release.loadRelease(spark, s"$dir/full", schema).manifest))
    // no release at the path -> loud failure, nothing written
    intercept[Exception] {
      Release.appendRelease(b, "doc_id", "text", s"$dir/nothere")
    }
  }

  test("sourceOverlapMatrix counts distinct shared hashes with" +
      " containment ratios; within-source duplicates collapse") {
    val d = Seq(
      ("same text", "a"), ("same  TEXT ", "a"), // normalize to one hash
      ("same text", "b"),                        // shared with a
      ("only in a", "a"),
      ("b one", "b"), ("b two", "b"),
      ("c and b", "b"), ("c and b", "c"))
      .toDF("text", "source")
    val out = Dedup.sourceOverlapMatrix(d, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    // a: {same, only-a} (2); b: {same, b1, b2, candb} (4); c: {candb}
    assert(out(("a", "b")) === ((1L, 0.2, 0.5, 0.25)))
    assert(out(("b", "c")) === ((1L, 0.25, 0.25, 1.0)))
    assert(!out.contains(("a", "c")), "disjoint pair must not appear")
  }

  test("curate semantic stage judges exact-survivors only and passes" +
      " docs without vectors") {
    import graft.operators.Pipeline
    val d = Seq(
      (0L, "first unique document body"),
      (1L, "first unique document body"),      // exact dup of 0 -> drops
      (2L, "second distinct document body"),
      (3L, "third distinct document body"))    // no vector -> passes
      .toDF("doc_id", "text")
    // v1 ~ v2 (would shadow 2), v0 orthogonal; one shared cell
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0.999f, 0.045f, 0f)))
      .toDF("doc_id", "embedding")
    val cents = Seq((0L, Array(0.5f, 0.5f, 0f, 0f)))
      .toDF("centroid_id", "__cv")
    val out = Pipeline.curate(d, "doc_id", "text",
        semanticVecs = Some(emb), semanticCentroids = Some(cents),
        semanticTau = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 1 dropped at EXACT stage, so its vector must NOT shadow 2; 3 has
    // no vector and passes
    assert(out === Set(0L, 2L, 3L), s"got $out")
  }

  test("curate domain gates: blocklist catches subdomains, blocked docs" +
      " never consume cap slots, and the cap is deterministic") {
    import graft.operators.Pipeline
    val d = Seq(
      (0L, "https://www.bad.com/a", "good content here", "keepish"),
      (1L, "https://cdn.bad.com/b", "subdomain of blocked", "x"),
      (2L, "https://notbad.com/c", "similar-SUFFIX host is NOT blocked", "x"),
      (3L, "https://ok.org/1", "aaa", "x"),
      (4L, "https://ok.org/2", "bbb", "x"),
      (5L, "https://ok.org/3", "ccc", "x"),
      (6L, "https://solo.net/1", "ddd", "x")
    ).toDF("doc_id", "url", "text", "extra")
    val out = Pipeline.curate(d, "doc_id", "text",
        urlCol = "url", blockedHosts = Seq("bad.com"), maxDocsPerHost = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // bad.com and cdn.bad.com drop; notbad.com survives (suffix is not
    // subdomain); ok.org keeps only its 2 smallest-hash docs; solo.net
    // keeps its one
    assert(!out.contains(0L) && !out.contains(1L))
    assert(out.contains(2L) && out.contains(6L))
    assert(out.count(Set(3L, 4L, 5L)) === 2,
      s"ok.org must keep exactly 2 of its 3 docs, got $out")
    // deterministic: same input, same kept set
    val again = Pipeline.curate(d, "doc_id", "text",
        urlCol = "url", blockedHosts = Seq("bad.com"), maxDocsPerHost = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === out)
    // funnel sees both domain stages, in order, before the length gate
    val stages = scala.collection.mutable.Buffer
      .empty[(String, org.apache.spark.sql.DataFrame)]
    Pipeline.curate(d, "doc_id", "text", urlCol = "url",
      blockedHosts = Seq("bad.com"), maxDocsPerHost = 2,
      stageFrames = Some(stages))
    assert(stages.map(_._1).take(4) ===
      Seq("input", "domain_blocklist", "domain_cap", "length_gate"))
    // evasion closure + null tolerance: userinfo and trailing-dot
    // forms of a blocked host still match; a NULL url row KEEPS (a
    // blocklist only drops matched hosts)
    val tricky = Seq(
      (10L, "https://x@bad.com/a", "userinfo evasion"),
      (11L, "https://bad.com./b", "trailing dot evasion"),
      (12L, "https://WWW.BAD.COM:8080/c", "case+www+port"),
      (13L, null.asInstanceOf[String], "no url at all"))
      .toDF("doc_id", "url", "text")
    val kept = Pipeline.curate(tricky, "doc_id", "text",
        urlCol = "url", blockedHosts = Seq("bad.com"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(13L), s"got $kept")
  }

  test("curate per-host cap exempts url-less docs: null and unparseable" +
      " urls pass through instead of pooling into one capped pseudo-host") {
    import graft.operators.Pipeline
    val d = Seq(
      (0L, "https://ok.org/1", "aaa"),
      (1L, "https://ok.org/2", "bbb"),
      (2L, "https://ok.org/3", "ccc"),
      (3L, null.asInstanceOf[String], "no url 1"),
      (4L, null.asInstanceOf[String], "no url 2"),
      (5L, "not a url at all", "unparseable 1"),
      (6L, "::::", "unparseable 2")
    ).toDF("doc_id", "url", "text")
    val out = Pipeline.curate(d, "doc_id", "text",
        urlCol = "url", maxDocsPerHost = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // ok.org collapses to 1 doc; ALL four url-less docs survive (the
    // cap is a per-SITE quota - docs without a site are not a site)
    assert(out.count(Set(0L, 1L, 2L)) === 1, s"got $out")
    assert(Set(3L, 4L, 5L, 6L).subsetOf(out),
      s"url-less docs must bypass the host cap, got $out")
  }

  test("appendRelease with a batchId is replay-safe: done-marker no-op," +
      " and a crashed attempt repairs on re-run without duplicates") {
    import graft.sources.Release
    import org.apache.spark.sql.types._
    val a = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    val b = Seq((10L, "epsilon"), (11L, "zeta")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_rel_rep")
      .toString
    val rel = s"$dir/r"
    Release.writeRelease(a, "doc_id", "text", rel, nShards = 4)
    Release.appendRelease(b, "doc_id", "text", rel, batchId = "b1")
    val schema = StructType(a.schema.fields :+ StructField("shard", LongType))
    def check(n: Long): Unit = {
      val loaded = Release.loadRelease(spark, rel, schema)
      assert(Release.validateRelease(loaded, "doc_id", "text").isEmpty)
      assert(loaded.rows.count() === n)
    }
    check(6)
    // straight replay: done marker -> no-op, still 6 docs
    Release.appendRelease(b, "doc_id", "text", rel, batchId = "b1")
    check(6)
    // crash simulation: data landed but done never did (wipe the done
    // marker AND the manifest - the worst pre-commit state) -> the
    // re-run deletes the crashed attempt's files and re-appends once
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$rel/batches/b1/done"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$rel/manifest"), true)
    Release.appendRelease(b, "doc_id", "text", rel, batchId = "b1")
    check(6)
    // and the repaired release telescopes to the from-scratch one
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    Release.writeRelease(a.union(b), "doc_id", "text", s"$dir/full",
      nShards = 4)
    assert(rows(Release.loadRelease(spark, rel, schema).manifest) ===
      rows(Release.loadRelease(spark, s"$dir/full", schema).manifest))
  }

  test("deleteDocs removes the requested ids surgically: manifest" +
      " telescopes to a from-scratch publish of the survivors, missing" +
      " ids no-op, and a fully-emptied shard disappears") {
    import graft.sources.Release
    import org.apache.spark.sql.types._
    val d = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"), (3L, "delta"),
      (4L, "epsilon"), (5L, "zeta"), (6L, "eta"), (7L, "theta"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_rel_del")
      .toString
    Release.writeRelease(d, "doc_id", "text", s"$dir/r", nShards = 4)
    val schema = StructType(d.schema.fields :+ StructField("shard", LongType))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    Release.deleteDocs(Seq(1L, 4L).toDF("doc_id"), "doc_id", "text",
      s"$dir/r", schema)
    val loaded = Release.loadRelease(spark, s"$dir/r", schema)
    assert(Release.validateRelease(loaded, "doc_id", "text").isEmpty)
    assert(loaded.rows.select("doc_id").as[Long].collect().toSet ===
      Set(0L, 2L, 3L, 5L, 6L, 7L))
    Release.writeRelease(d.filter(!col("doc_id").isin(1L, 4L)),
      "doc_id", "text", s"$dir/survivors", nShards = 4)
    val afterTakedown = rows(loaded.manifest)
    assert(afterTakedown === rows(
      Release.loadRelease(spark, s"$dir/survivors", schema).manifest))
    // ids absent from the release: the touched shards rewrite to the
    // same content, the manifest is unchanged
    Release.deleteDocs(Seq(999L).toDF("doc_id"), "doc_id", "text",
      s"$dir/r", schema)
    assert(rows(Release.loadRelease(spark, s"$dir/r", schema).manifest)
      === afterTakedown)
    // delete EVERYTHING: every shard dir and manifest row disappears,
    // and the audit of the empty release is clean
    Release.deleteDocs(d.select("doc_id"), "doc_id", "text",
      s"$dir/r", schema)
    val emptied = Release.loadRelease(spark, s"$dir/r", schema)
    assert(emptied.manifest.isEmpty)
    assert(Release.validateRelease(emptied, "doc_id", "text").isEmpty)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val dataDir = new org.apache.hadoop.fs.Path(s"$dir/r/data")
    assert(!fs.exists(dataDir) || fs.listStatus(dataDir)
      .forall(st => !st.getPath.getName.startsWith("shard=")),
      "fully-emptied shards must leave no shard dirs behind")
  }

  test("deleteDocs token protocol: done-marker no-op, post-commit-crash" +
      " repair, and a mid-write crash's partial files are swept before" +
      " the re-run") {
    import graft.sources.Release
    import org.apache.spark.sql.types._
    val d = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"), (3L, "delta"),
      (4L, "epsilon"), (5L, "zeta")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_rel_delrep")
      .toString
    val rel = s"$dir/r"
    Release.writeRelease(d, "doc_id", "text", rel, nShards = 2)
    val schema = StructType(d.schema.fields :+ StructField("shard", LongType))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def takedown(): Unit = Release.deleteDocs(Seq(2L).toDF("doc_id"),
      "doc_id", "text", rel, schema, token = "t1")
    takedown()
    def check(): Unit = {
      val loaded = Release.loadRelease(spark, rel, schema)
      assert(Release.validateRelease(loaded, "doc_id", "text").isEmpty)
      assert(loaded.rows.select("doc_id").as[Long].collect().toSet ===
        Set(0L, 1L, 3L, 4L, 5L))
    }
    check()
    // done-marker replay: a second run must not touch the data (the
    // sealed files are long gone — re-running the write phase would
    // fail loudly, so surviving silently proves the no-op)
    takedown()
    check()
    // crash AFTER written_ok but before the manifest commit: sealed
    // files deleted or not, manifest tombstoned, done absent — the
    // re-run resumes at the cleanup phase and commits
    fs.delete(new org.apache.hadoop.fs.Path(s"$rel/maintenance/t1/done"),
      true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$rel/manifest"), true)
    intercept[Exception] { // tombstoned manifest = loudly unloadable
      Release.loadRelease(spark, rel, schema).manifest.collect()
    }
    takedown()
    check()
    // crash DURING the survivor write (intent sealed, written_ok never
    // landed): construct the reachable state forward — seal an intent
    // for a fresh token, plant a partial unsealed file in a touched
    // shard, tombstone the manifest — then the re-run must sweep the
    // partial file, rewrite off the sealed files, and commit
    val t2 = s"$rel/maintenance/t2"
    val doc0Shard = Release.loadRelease(spark, rel, schema).rows
      .filter(col("doc_id") === 0L).select("shard").as[Long].head()
    val live = spark.read.parquet(s"$rel/manifest")
    live.coalesce(1).write.parquet(s"$t2/old_manifest")
    val shardDir = new org.apache.hadoop.fs.Path(
      s"$rel/data/shard=$doc0Shard")
    val sealedList = fs.listStatus(shardDir).filter(_.isFile)
      .map(st => (doc0Shard, st.getPath.getName)).toSeq
    sealedList.toDF("shard", "file").coalesce(1).write.parquet(s"$t2/files")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$t2/intent_ok"))
    val junk = new org.apache.hadoop.fs.Path(
      s"$rel/data/shard=$doc0Shard/part-junk-from-crashed-attempt.json.gz")
    fs.create(junk).close()
    fs.delete(new org.apache.hadoop.fs.Path(s"$rel/manifest"), true)
    Release.deleteDocs(Seq(0L).toDF("doc_id"), "doc_id", "text", rel,
      schema, token = "t2")
    val after = Release.loadRelease(spark, rel, schema)
    assert(Release.validateRelease(after, "doc_id", "text").isEmpty)
    assert(!after.rows.select("doc_id").as[Long].collect().contains(0L))
    assert(!fs.exists(junk), "the crashed attempt's partial file must" +
      " be swept before the rewrite")
  }

  test("compactRelease folds multi-file shards to one file with the" +
      " manifest row-identical; single-file shards and replays no-op") {
    import graft.sources.Release
    import org.apache.spark.sql.types._
    val a = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    val b = Seq((10L, "epsilon"), (11L, "zeta"), (12L, "eta"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_rel_cmp")
      .toString
    val rel = s"$dir/r"
    Release.writeRelease(a, "doc_id", "text", rel, nShards = 2)
    Release.appendRelease(b, "doc_id", "text", rel, batchId = "b1")
    val schema = StructType(a.schema.fields :+ StructField("shard", LongType))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def files(s: Long): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$rel/data/shard=$s")
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).filter(_.isFile).map(_.getPath.getName).toSeq
    }
    assert((0L to 1L).exists(files(_).size > 1),
      "the append must have produced a multi-file shard")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val before = rows(Release.loadRelease(spark, rel, schema).manifest)
    Release.compactRelease(spark, rel, schema, "doc_id", "text",
      token = "c1")
    assert((0L to 1L).forall(files(_).size <= 1))
    val loaded = Release.loadRelease(spark, rel, schema)
    assert(Release.validateRelease(loaded, "doc_id", "text").isEmpty)
    assert(rows(loaded.manifest) === before,
      "compaction must not change the manifest's content")
    assert(loaded.rows.count() === 7)
    // replay: done no-op — file names unchanged
    val names = (0L to 1L).map(files)
    Release.compactRelease(spark, rel, schema, "doc_id", "text",
      token = "c1")
    assert((0L to 1L).map(files) === names)
    // an already-single-file release: nothing to touch, fresh token
    // no-ops (and marks done)
    Release.compactRelease(spark, rel, schema, "doc_id", "text",
      token = "c2")
    assert((0L to 1L).map(files) === names)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$rel/maintenance/c2/done")))
  }

  test("curateMedia perceptualHash=phash: a cross-resolution twin" +
      " (9x8 PNG vs 72x64 JPEG of the same picture) collapses in the" +
      " perceptual stage; undecodable payloads are exempt") {
    import graft.functions.{JpegCodec, PngCodec}
    def grid(x: Int, y: Int): Int = (x * 13 + y * 31 + 7) * 3 % 256
    val p9x8 = Array.tabulate(9 * 8)(i => (grid(i % 9, i / 9) & 0xff).toByte)
    val jpegPix = Array.tabulate(72 * 64) { i =>
      (grid((i % 72) / 8, (i / 72) / 8) & 0xff).toByte
    }
    val d = Seq(
      (1L, PngCodec.encodeGray(9, 8, p9x8, 2)),
      (2L, JpegCodec.encodeGray(72, 64, jpegPix)),
      (3L, "just some opaque bytes, not an image".getBytes))
      .toDF("doc_id", "payload")
    val out = graft.operators.Pipeline.curateMedia(d, "doc_id",
        perceptual = true, perceptualHash = "phash")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // different containers AND resolutions -> different bytes, exact
    // and byte-shingle stages keep both; only the pHash stage can see
    // they are the same picture
    assert(out === Seq(1L, 3L))
    intercept[IllegalArgumentException] {
      graft.operators.Pipeline.curateMedia(d, "doc_id",
        perceptual = true, perceptualHash = "md5")
    }
  }

  test("licenseTag: SPDX ids win over phrase tiers, GPL splits by" +
      " version, and unlicensed text tags null") {
    import graft.operators.TextAnalysis
    val d = Seq(
      (0L, "// SPDX-License-Identifier: BSD-3-Clause\nsome code"),
      // SPDX beats a phrase match present in the same file
      (1L, "SPDX-License-Identifier: Apache-2.0\nPermission is hereby" +
        " granted, free of charge, to anyone"),
      (2L, "Permission is hereby granted, free of charge, to any person"),
      (3L, "Licensed under the Apache License, Version 2.0 (the License)"),
      (4L, "released under the GNU General Public License version 2 only"),
      (5L, "covered by the GNU General Public License as published"),
      (6L, "Redistribution and use in source and binary forms, with or" +
        " without modification, are permitted"),
      (7L, "plain prose with no license language at all"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.licenseTag(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(0L -> "BSD-3-Clause", 1L -> "Apache-2.0",
      2L -> "MIT", 3L -> "Apache-2.0", 4L -> "GPL-2.0", 5L -> "GPL",
      6L -> "BSD", 7L -> null))
  }

  test("codeQualityFlags: each structural gate fires on its planted" +
      " defect and the clean file keeps") {
    import graft.operators.TextAnalysis
    val clean = "def f(x):\n    return x + 1\n\nprint(f(2))"
    val d = Seq(
      (0L, clean),
      (1L, clean + "\n" + ("y" * 1500)),            // monster line
      (2L, ("averagely sized line of prose here!! " * 4 + "\n") * 3
        + "tail"),                                   // mean > 100
      (3L, clean + "\nABCD" * 0 + "\n" + ("QUJD" * 20)), // b64 blob
      (4L, "# generated by protoc, DO NOT EDIT\n" + clean),
      (5L, "(((((((((( ))))))))))"),                 // alnum 0
      (6L, ""))                                      // empty file
      .toDF("doc_id", "text")
    val got = TextAnalysis.codeQualityFlags(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Int]("max_line_len"), r.getAs[Boolean]("has_long_b64"),
          r.getAs[Boolean]("auto_generated"), r.getAs[Boolean]("keep"))))
      .toMap
    assert(got(0L) === ((16, false, false, true)))
    assert(got(1L)._1 === 1500 && !got(1L)._4)
    assert(!got(2L)._4)
    assert(got(3L)._2 && !got(3L)._4)
    assert(got(4L)._3 && !got(4L)._4)
    assert(!got(5L)._4)
    assert(got(6L) === ((0, false, false, false)))
  }

  test("DeconIndex: decontaminateBatch equals decontaminateExact even" +
      " under a saturated filter (fp transparency)") {
    import graft.sources.DeconIndex
    val snip = "zero one two three four five six seven eight nine ten" +
      " eleven twelve"
    val corpus = Seq(
      (0L, "clean document with some words a b c d e f g h i j"),
      (1L, "prefix words here then " + snip),
      (2L, "another clean one entirely different tokens m n o p q r s"))
      .toDF("doc_id", "text")
    val probe = Seq(Tuple1(snip)).toDF("text")
    val dir = java.nio.file.Files.createTempDirectory("graft_deconidx")
      .toString
    // 64 bits / k=1 over 13+ grams: heavily collision-saturated — the
    // exact confirm join must still produce exact results
    DeconIndex.build(probe, "text", s"$dir/idx", n = 13, mBits = 64,
      k = 1)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    val viaIndex = ids(DeconIndex.decontaminateBatch(
      corpus, "doc_id", "text", s"$dir/idx"))
    val viaExact = ids(Dedup.decontaminateExact(
      corpus, probe, "doc_id", "text", n = 13))
    assert(viaIndex === viaExact)
    assert(viaIndex === Seq(0L, 2L))
  }

  test("DeconIndex append: uncommitted gram keys stay invisible (the" +
      " crash window), the append makes them take effect, and replays" +
      " never duplicate keys") {
    import graft.sources.DeconIndex
    val snipA = "alpha beta gamma delta epsilon zeta eta theta iota" +
      " kappa lambda mu nu"
    val snipB = "red orange yellow green blue indigo violet black" +
      " white gray brown pink teal"
    val corpus = Seq(
      (0L, "clean document with some words a b c d e f g h i j"),
      (1L, "prefix words here then " + snipA),
      (3L, "leading stuff before " + snipB))
      .toDF("doc_id", "text")
    val probeA = Seq(Tuple1(snipA)).toDF("text")
    val probeB = Seq(Tuple1(snipB)).toDF("text")
    val dir = java.nio.file.Files.createTempDirectory("graft_deconidx_app")
      .toString
    val idx = s"$dir/idx"
    DeconIndex.build(probeA, "text", idx, n = 13, mBits = 256, k = 2)
    def ids() = DeconIndex.decontaminateBatch(
        corpus, "doc_id", "text", idx)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids() === Seq(0L, 3L))
    // simulate the crash window: B's gram keys land as files, the
    // filter epoch never flips — the committed filter must gate them
    // out, leaving the artifact at the pre-append state
    Dedup.normalizedGramHashes(probeB, "text", 13)
      .select(col("__h")).distinct()
      .write.mode("append").parquet(s"$idx/grams")
    assert(ids() === Seq(0L, 3L),
      "keys with no committed filter epoch must stay invisible")
    // the replayed append converges: doc 3 now drops, and the orphaned
    // keys fold (no duplicates in the gram artifact)
    DeconIndex.appendProbe(probeB, "text", idx)
    assert(ids() === Seq(0L))
    val grams = spark.read.parquet(s"$idx/grams")
    assert(grams.count() === grams.distinct().count(),
      "a replayed/crashed append must not duplicate gram keys")
    val countAfter = grams.count()
    DeconIndex.appendProbe(probeB, "text", idx)
    assert(spark.read.parquet(s"$idx/grams").count() === countAfter)
    assert(ids() === Seq(0L))
  }

  test("DeconIndex cold start: appendProbe initializes an empty path," +
      " and a torn post-history meta flip refuses to re-initialize") {
    import graft.sources.DeconIndex
    val snip = "one small step for a tokenizer one giant leap for" +
      " dedup pipelines everywhere"
    val probe = Seq(Tuple1(snip)).toDF("text")
    val corpus = Seq(
      (0L, "prefix then " + snip),
      (1L, "nothing shared with the probe in this line of plain words"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_deconidx_cs")
      .toString
    DeconIndex.appendProbe(probe, "text", s"$dir/idx", n = 13,
      mBits = 256, k = 2)
    assert(DeconIndex.decontaminateBatch(
        corpus, "doc_id", "text", s"$dir/idx")
      .select("doc_id").as[Long].collect().toSeq === Seq(1L))
    // torn flip on an artifact WITH history: registers_v5 but no meta
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val torn = s"$dir/torn"
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$torn/registers_v5"))
    intercept[IllegalArgumentException] {
      DeconIndex.appendProbe(probe, "text", torn)
    }
  }

  test("probeIngestStream: a two-batch probe stream telescopes to the" +
      " from-scratch index, and a fresh-checkpoint replay converges") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.DeconIndex
    val snipA = "alpha beta gamma delta epsilon zeta eta theta iota" +
      " kappa lambda mu nu"
    val snipB = "red orange yellow green blue indigo violet black" +
      " white gray brown pink teal"
    val corpus = Seq(
      (0L, "clean document with some words a b c d e f g h i j"),
      (1L, "prefix words here then " + snipA),
      (3L, "leading stuff before " + snipB))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_deconidx_st")
      .toString
    val (src, idx) = (s"$root/src", s"$root/idx")
    def run(cp: String): Unit = graft.streaming.StreamingDedup
      .probeIngestStream(
        spark.readStream.schema("text STRING").parquet(src),
        "text", idx, n = 13, mBits = 256, k = 2)
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    Seq(Tuple1(snipA)).toDF("text").write.mode("append").parquet(src)
    run(s"$root/cp")
    Seq(Tuple1(snipB)).toDF("text").write.mode("append").parquet(src)
    run(s"$root/cp")
    def ids() = DeconIndex.decontaminateBatch(
        corpus, "doc_id", "text", idx)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids() === Seq(0L))
    // at-least-once abuse: a FRESH checkpoint redelivers everything —
    // the append law makes it converge (same grams, same filter, same
    // survivors) with no marker protocol
    val gramCount = spark.read.parquet(s"$idx/grams").count()
    run(s"$root/cp2")
    assert(spark.read.parquet(s"$idx/grams").count() === gramCount)
    assert(ids() === Seq(0L))
  }

  test("writeZOrdered on an empty frame writes an empty table instead" +
      " of an NPE; all-null lanes on a non-empty frame fail loudly") {
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("graft_zempty")
      .toString
    val empty = Seq.empty[(Long, Long, String)].toDF("x", "y", "p")
    Tables.writeZOrdered(empty, Seq("x", "y"), s"$dir/z", numFiles = 4)
    val back = spark.read.parquet(s"$dir/z")
    assert(back.isEmpty && back.columns.toSeq === Seq("x", "y", "p"))
    val allNull = Seq((null.asInstanceOf[java.lang.Long],
        java.lang.Long.valueOf(1L), "a"))
      .toDF("x", "y", "p")
    intercept[IllegalArgumentException] {
      Tables.writeZOrdered(allNull, Seq("x", "y"), s"$dir/z2")
    }
  }

  test("ivfTopKCross scores shared cells only, probes widens recall," +
      " and mineBitextIvf mines within cells") {
    val cents = Seq((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)))
      .toDF("centroid_id", "__cv")
    val src = Seq((10L, Array(0.9f, 0.35f, 0f, 0f)))   // cell 0
      .toDF("vec_id", "embedding")
    val tgt = Seq(
      (20L, Array(1f, 0.1f, 0f, 0f)),    // cell 0
      (21L, Array(0.55f, 0.85f, 0f, 0f)) // cell 1: invisible at probes=1
    ).toDF("vec_id", "embedding")
    def hits(p: Int) = Similarity.ivfTopKCross(
        src, tgt, "vec_id", "embedding", cents, k = 2, probes = p)
      .collect().map(_.getLong(1)).toSet
    assert(hits(1) === Set(20L))
    assert(hits(2) === Set(20L, 21L))
    val mined = Similarity.mineBitextIvf(
        src, tgt, "vec_id", "embedding", cents, k = 2, threshold = 0.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mined === Map(10L -> 20L))
  }

  test("mineBitext: the ratio margin beats raw cosine on hub targets" +
      " and the threshold gates weak pairs") {
    // hub h is COSINE-closest to s1 (0.805 > 0.780) but near everything,
    // so its high backward mean kills its margin; the true pair t1 wins
    val src = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),   // s1
      (2L, Array(0.0f, 1.0f, 0.0f)))   // s2
      .toDF("vec_id", "embedding")
    val tgt = Seq(
      (10L, Array(0.78f, 0.0f, 0.62f)), // t1: aligned with s1 only
      (11L, Array(0.8f, 0.59f, 0.0f)))  // hub: near both sources
      .toDF("vec_id", "embedding")
    def mined(th: Double) = Similarity.mineBitext(
        src, tgt, "vec_id", "embedding", k = 2, threshold = th)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // raw-cosine argmax for s1 would be the hub — margin picks t1
    val strict = mined(1.2)
    assert(strict === Map(1L -> 10L),
      s"s1 must mine t1 (margin ~1.32 vs hub ~1.08), s2's best is" +
        s" sub-threshold (~1.19); got $strict")
    val loose = mined(1.0)
    assert(loose === Map(1L -> 10L, 2L -> 11L))
  }

  test("zorderValue interleaves bits; writeZOrdered clusters both lanes" +
      " so box predicates prune most files") {
    import graft.sources.Tables
    // x=5 (101), y=3 (011): z = x0 + 2*y0 + 4*x1 + 8*y1 + 16*x2 = 27
    val z = spark.range(1).select(Tables.zorderValue(
      Seq(lit(5L), lit(3L))).as("z")).head().getLong(0)
    assert(z === 27L)
    // a 64x64 grid written z-ordered into 16 files: a 8x8 box predicate
    // must touch a small corner of the files on BOTH axes — the
    // single-column-sort layout prunes only its leading column
    val grid = spark.range(64L * 64L).select(
      (col("id") / 64).cast("long").as("x"),
      (col("id") % 64).as("y"))
    val dir = java.nio.file.Files.createTempDirectory("graft_z_spec")
      .toString
    Tables.writeZOrdered(grid, Seq("x", "y"), s"$dir/z", numFiles = 16)
    def touched(path: String, c: String): Long = {
      // files whose [min, max] footer span of column c overlaps [0, 7]
      val perFile = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
      perFile.filter(col("mn") <= 7 && col("mx") >= 0).count()
    }
    val nFiles = spark.read.parquet(s"$dir/z")
      .select(input_file_name()).distinct().count()
    assert(nFiles >= 8, s"expected ~16 files, got $nFiles")
    // z-order: both axes prune (the 8x8 corner lives in z range [0, 255]
    // — at most a couple of the 16 range partitions)
    assert(touched(s"$dir/z", "x") <= nFiles / 2,
      "x predicate should prune most z-ordered files")
    assert(touched(s"$dir/z", "y") <= nFiles / 2,
      "y predicate should prune most z-ordered files")
    // contrast: sorted by x only, a y-predicate touches EVERY file
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$dir/xsort")
    assert(touched(s"$dir/xsort", "y") ===
      spark.read.parquet(s"$dir/xsort")
        .select(input_file_name()).distinct().count(),
      "x-sorted layout cannot prune a y predicate")
  }

  test("quantile summary: small groups are exact, sampled groups land" +
      " near truth, appends telescope, replays are no-ops") {
    import graft.operators.Sketches
    // group "big": 0..9999 (uniform, true p50 = 4999.5); group "small":
    // 7 rows — under k, so its estimates must be EXACT
    val big = spark.range(10000).select(col("id"),
      lit("big").as("g"), col("id").as("v"))
    val small = spark.range(7).select((col("id") + 100000L).as("id"),
      lit("small").as("g"), (col("id") * 10).as("v"))
    val d = big.union(small)
    val est = Sketches.quantileEstimateBy(
        Sketches.quantileSummaryBy(d, "id", "v", "g", k = 400),
        "g", "v")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    assert(est("small") === ((15.0, 30.0, 45.0, 7L)),
      "under-k group must be exact")
    val (_, p50, _, n) = est("big")
    assert(n === 400L)
    // rank error O(1/sqrt(k)): 3 sigma ≈ 3·5000/20 = 750
    assert(math.abs(p50 - 4999.5) < 750.0,
      s"sampled median $p50 too far from 4999.5")
    // artifact: three-way split telescopes to the from-scratch summary
    val dir = java.nio.file.Files.createTempDirectory("graft_qtl_spec")
      .toString
    Sketches.appendQuantile(d.filter(col("id") % 3 === 0), "id", "v", "g",
      dir, k = 50) // initializes
    Sketches.appendQuantile(d.filter(col("id") % 3 === 1), "id", "v", "g",
      dir)
    Sketches.appendQuantile(d.filter(col("id") % 3 === 2), "id", "v", "g",
      dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    val loaded = Sketches.loadQuantile(spark, dir)
    assert(loaded.k === 50)
    val scratch = Sketches.quantileSummaryBy(
      d.select(col("g"), col("id"), col("v")), "id", "v", "g", 50)
    assert(rows(loaded.rows.select("g", "id", "v", "sample_rank")) ===
      rows(scratch.select("g", "id", "v", "sample_rank")),
      "telescoped summary must equal the from-scratch draw")
    // replay: same batch again → anti-join empties it → same epoch rows
    Sketches.appendQuantile(d.filter(col("id") % 3 === 2), "id", "v", "g",
      dir)
    assert(rows(Sketches.loadQuantile(spark, dir).rows
      .select("g", "id", "v", "sample_rank")) ===
      rows(scratch.select("g", "id", "v", "sample_rank")))
    // column mismatch fails loudly
    val e = intercept[IllegalArgumentException] {
      Sketches.appendQuantile(d, "id", "v", "v", dir)
    }
    assert(e.getMessage.contains("keys on"))
    // duplicate (group, id) rows collapse to ONE member (min value) —
    // never a double-weighted sample
    val dup = Seq(("g1", 1L, 9L), ("g1", 1L, 3L), ("g1", 2L, 5L))
      .toDF("g", "id", "v")
    val sm = Sketches.quantileSummaryBy(dup, "id", "v", "g", k = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(sm === Map(1L -> 3L, 2L -> 5L))
    // append replay-guard keys on (group, id): the same id arriving in
    // a DIFFERENT group is fresh, not a replay
    val dir2 = java.nio.file.Files.createTempDirectory("graft_qtl_xg")
      .toString
    Sketches.appendQuantile(
      Seq(("ga", 7L, 1L)).toDF("g", "id", "v"), "id", "v", "g", dir2, 10)
    Sketches.appendQuantile(
      Seq(("gb", 7L, 2L)).toDF("g", "id", "v"), "id", "v", "g", dir2)
    val both = Sketches.loadQuantile(spark, dir2).rows
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(both === Map("ga" -> 1L, "gb" -> 2L),
      "cross-group same-id row must survive the append guard")
  }

  test("frequentNgramsSketched equals the exact form for any sketch" +
      " size, and an adequately-sized prefilter really prunes") {
    import graft.functions.CmsPrefilterExpr
    import graft.operators.Sketches
    val d = Seq(
      (0L, "x y x y x y x y x y"),     // "x y" ×5, "y x" ×4
      (1L, "x y q r"),                 // one more "x y"
      (2L, "a b c d e f g h"),         // singletons
      (3L, "x y")                      // one more "x y"
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
    val exact = rows(TextAnalysis.frequentNgrams(
      d, "doc_id", "text", n = 2, minCount = 4L))
    assert(exact.map(_._1) === Set("x y", "y x"))
    // collision-saturated (width 16) and roomy (width 4096) sketches
    // both reproduce the exact answer — the prefilter is transparent
    for (w <- Seq(16, 4096))
      assert(rows(TextAnalysis.frequentNgramsSketched(
        d, "doc_id", "text", n = 2, minCount = 4L, width = w)) === exact,
        s"width $w diverged from the exact heavy-hitter set")
    // pruning, observed directly on the expression: with a roomy sketch
    // every true-heavy gram passes (no false negatives, guaranteed) and
    // ALMOST every singleton is pruned (collisions permitting)
    import org.apache.spark.sql.GraftColumnCompat.{toColumn => tc,
      toExpression => te}
    val grams = d.select(explode(tc(graft.functions.NgramsExpr(
      te(col("text")), 2))).as("ngram"))
    val counters = Sketches.cmsCounters(grams, col("ngram"), 4, 4096)
      .collect()
    val arr = new Array[Long](4 * 4096)
    counters.foreach { r =>
      arr(r.getInt(0) * 4096 + r.getLong(1).toInt) = r.getLong(2)
    }
    val kept = grams.distinct().filter(tc(CmsPrefilterExpr(
        te(col("ngram")), spark.sparkContext.broadcast(arr), 4, 4096, 4L)))
      .collect().map(_.getString(0)).toSet
    assert(Set("x y", "y x").subsetOf(kept), "true heavy hitters pruned")
    assert(kept.size < 6,
      s"roomy sketch should prune most singleton grams, kept $kept")
  }

  test("frequentNgramsSketchedBy keeps group support independent: a" +
      " gram heavy in one group stays invisible in another") {
    val d = Seq(
      (0L, "a", "x y x y x y x y"),  // "x y" 4 times in group a
      (1L, "a", "x y q r"),          // +1 -> 5 in a
      (2L, "b", "x y only once"),    // 1 in b: under minCount
      (3L, "b", "z w z w z w z w z w")) // "z w" 5, "w z" 4 in b
      .toDF("doc_id", "g", "text")
    val out = TextAnalysis.frequentNgramsSketchedBy(
        d, "doc_id", "text", "g", n = 2, minCount = 5L, width = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet === Set(("a", "x y"), ("b", "z w")),
      s"got ${out.keySet}")
    assert(out(("a", "x y")) === ((5L, 2L)))
    assert(out(("b", "z w")) === ((5L, 1L)))
  }

  test("frequentNgramsSketchedBy keeps a NULL group as a real group," +
      " matching exact groupBy semantics") {
    // a null group must not vanish through a null sketch key: the
    // prefilter's null-safe eval would silently drop every such row
    val d = Seq(
      (0L, Some("a"), "x y x y x y"),
      (1L, None, "p q p q p q p q"),   // "p q" 4x under the NULL group
      (2L, None, "p q"))               // +1 -> 5
      .toDF("doc_id", "g", "text")
    val out = TextAnalysis.frequentNgramsSketchedBy(
        d, "doc_id", "text", "g", n = 2, minCount = 5L, width = 64)
      .collect().map(r => (Option(r.getString(0)), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet === Set((None, "p q")), s"got ${out.keySet}")
    assert(out((None, "p q")) === ((5L, 2L)))
  }

  test("CmsPrefilterExpr serializes as a handle: task-binary size is" +
      " independent of sketch size (2^20-width table)") {
    import graft.functions.CmsPrefilterExpr
    import org.apache.spark.sql.GraftColumnCompat.toExpression
    val depth = 4; val width = 1 << 20
    val big = spark.sparkContext.broadcast(new Array[Long](depth * width))
    try {
      val e = CmsPrefilterExpr(
        toExpression(col("ngram")), big, depth, width, 4L)
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(e); oos.close()
      // the flattened table alone is 32 MB; the serialized expression
      // must stay a broadcast HANDLE, orders of magnitude below that
      assert(bos.size() < 64 * 1024,
        s"prefilter serialized to ${bos.size()} bytes - table embedded?")
    } finally big.destroy()
  }

  test("thresholdReport confusion arithmetic on a hand fixture") {
    import graft.operators.Classifier
    val scored = Seq((0.1, 0.0), (0.4, 1.0), (0.9, 1.0))
      .toDF("score", "label")
    val rep = Classifier.thresholdReport(scored, "score", "label",
        buckets = 2)
      .collect().filterNot(_.isNullAt(5)).map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    // t=0.0: everything predicted junk -> tp=2 fp=1, recall 1
    assert(rep(0.0) === ((2L, 1L, 0L, 0L, 0.666667, 1.0)))
    // t=0.5: only 0.9 predicted -> tp=1 fn=1, precision 1
    assert(rep(0.5) === ((1L, 0L, 1L, 1L, 1.0, 0.5)))
    // t=1.0: nothing predicted -> precision undefined (null)
    val top = Classifier.thresholdReport(scored, "score", "label", 2)
      .filter(col("threshold") === 1.0).head()
    assert(top.isNullAt(5) && top.getDouble(6) === 0.0)
  }

  test("DedupIndex semantic: appends telescope to the from-scratch" +
      " SemDeDup run, dropped vectors still shadow later arrivals, and" +
      " replayed ingests are no-ops") {
    import graft.sources.DedupIndex
    // cell-0 vectors live in the x–z plane (cosine with centroid 1 is
    // exactly 0, so assignment never flips), cell-1 in y–w; tau = 0.9
    // means "within ~25.8 degrees"
    def xz(deg: Double) = { val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, 0f, math.sin(r).toFloat, 0f) }
    def yw(deg: Double) = { val r = math.toRadians(deg)
      Array(0f, math.cos(r).toFloat, 0f, math.sin(r).toFloat) }
    val centroids = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)))
      .toDF("centroid_id", "__cv")
    val corpus = Seq(
      (0L, xz(0)),   // kept (cell 0 anchor)
      (1L, xz(25)),  // cos(0,1)=cos25≈.906 ≥ .9 → dropped by 0
      (2L, yw(0))    // kept (cell 1 anchor)
    ).toDF("vec_id", "embedding")
    val b1 = Seq(
      (10L, xz(50)), // cos vs DROPPED 1 = cos25 ≥ .9 → dropped (vs 0: .64)
      (11L, xz(80)), // ≥ 28° from every predecessor → kept
      (12L, xz(78)), // cos vs batch-mate 11 = cos2 → dropped
      (13L, yw(5))   // cos vs corpus 2 = cos5 → dropped
    ).toDF("vec_id", "embedding")
    val b2 = Seq(
      (20L, xz(52)), // cos vs ABSORBED-DROPPED 10 = cos2 → dropped;
                     // every KEPT predecessor is > 25.8° away
      (21L, yw(40))  // ≥ 34° from everything in cell 1 → kept
    ).toDF("vec_id", "embedding")
    val path = "/tmp/graft_dedupidx_sem_spec"
    def wipe(): Unit = {
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(hp, true)
    }
    wipe()
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    val s0 = ids(DedupIndex.buildSemantic(
      corpus, "vec_id", "embedding", centroids, tau = 0.9, path))
    assert(s0 === Set(0L, 2L), s"build survivors: got $s0")
    val s1 = ids(DedupIndex.appendSemantic(
      spark, path, b1, "vec_id", "embedding"))
    assert(s1 === Set(11L),
      s"batch1: 10 shadows via dropped 1, 12 via mate 11, 13 via 2; got $s1")
    val s2 = ids(DedupIndex.appendSemantic(
      spark, path, b2, "vec_id", "embedding"))
    assert(s2 === Set(21L),
      s"batch2: 20 must shadow via absorbed-dropped 10; got $s2")
    // telescoping: one combined append over a rebuilt index = s1 ++ s2
    // (same priority: within-batch lower id = earlier)
    DedupIndex.buildSemantic(
      corpus, "vec_id", "embedding", centroids, tau = 0.9, path)
    val sBoth = ids(DedupIndex.appendSemantic(
      spark, path, b1.union(b2), "vec_id", "embedding"))
    assert(sBoth === s1 ++ s2, s"combined append: got $sBoth")
    // ... and the whole thing equals ONE from-scratch SemDeDup pass
    // (id order = arrival order by construction)
    val oneShot = ids(graft.operators.Dedup.semanticDedup(
      corpus.union(b1).union(b2), "vec_id", "embedding", centroids, 0.9))
    assert(oneShot === s0 ++ s1 ++ s2, s"one-shot: got $oneShot")
    // replayed ingest (same batchId) is a marker no-op: index size and
    // committed output both unchanged
    wipe()
    DedupIndex.buildSemantic(
      corpus, "vec_id", "embedding", centroids, tau = 0.9, path)
    val out = "/tmp/graft_dedupidx_sem_spec_out"
    DedupIndex.ingestSemanticBatch(
      spark, path, out, b1, 0L, "vec_id", "embedding")
    val nVecs = spark.read.parquet(s"$path/sem_vecs").count()
    val out1 = ids(spark.read.parquet(out))
    DedupIndex.ingestSemanticBatch(
      spark, path, out, b1, 0L, "vec_id", "embedding")
    assert(spark.read.parquet(s"$path/sem_vecs").count() === nVecs,
      "replayed ingest must not re-absorb")
    assert(ids(spark.read.parquet(out)) === out1)
    assert(out1 === Set(11L))
    // a REBUILD clears stale ingest markers: batch ids restart with a
    // fresh stream checkpoint, and a surviving batch_0 marker would
    // silently no-op the new stream's first batch
    DedupIndex.buildSemantic(
      corpus, "vec_id", "embedding", centroids, tau = 0.9, path)
    DedupIndex.ingestSemanticBatch(
      spark, path, out, b1, 0L, "vec_id", "embedding")
    assert(ids(spark.read.parquet(out)) === Set(11L),
      "post-rebuild ingest of batch 0 must run, not no-op on a stale marker")
    // tombstoned meta gates the probe path: no sem_meta → loud failure
    val mp = new org.apache.hadoop.fs.Path(s"$path/sem_meta")
    mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(mp, true)
    intercept[Exception] {
      DedupIndex.appendSemantic(spark, path, b2, "vec_id", "embedding")
    }
  }

  test("shingles/charShingles/ngrams/hash60Array run under REAL" +
      " whole-stage codegen (no fallback) with unchanged results") {
    import org.apache.spark.sql.GraftColumnCompat.{toColumn => tc,
      toExpression => te}
    import graft.functions._
    val d = Seq(
      (0L, "The Quick  brown Fox jumps over the lazy dog"),
      (1L, "  edge   whitespace   case  "),
      (2L, "short"),
      (3L, "日本語のテキストです句読点も")).toDF("id", "text")
    def run(): Seq[org.apache.spark.sql.Row] = d.select(
        tc(ShinglesExpr(te(col("text")), 3)).as("sh"),
        tc(CharShinglesExpr(te(col("text")), 4, keepLastCpMod = 2)).as("cs"),
        tc(NgramsExpr(te(col("text")), 2)).as("ng"),
        tc(Hash60ArrayExpr(te(
          tc(ShinglesExpr(te(col("text")), 3))), 97L)).as("h"))
      .orderBy("id").collect().toSeq
    val interpreted = run()
    // fallback=NO_CODEGEN forces the interpreted expression path;
    // CODEGEN_ONLY + fallback disabled makes any Janino failure THROW
    // instead of silently reverting - the codegen path must both work
    // and agree bit-for-bit
    val conf = spark.conf
    conf.set("spark.sql.codegen.wholeStage", "true")
    conf.set("spark.sql.codegen.fallback", "false")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val codegen = run()
      assert(codegen === interpreted)
    } finally {
      conf.set("spark.sql.codegen.fallback", "true")
      conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  /** Reference implementation of the derandomized KLL/MRL cascade:
    * feed values in sorted order, buffer capacity k per level, full
    * buffer -> sort, keep even 0-based positions, push to next level.
    * The operator's closed form must reproduce this EXACTLY.
    */
  private def kllCascadeReference(
      values: Seq[Long], k: Int): Map[Int, Seq[Long]] = {
    val buf = scala.collection.mutable.Map.empty[Int, Vector[Long]]
    for (v <- values.sorted) {
      buf(0) = buf.getOrElse(0, Vector.empty) :+ v
      var h = 0
      while (buf.getOrElse(h, Vector.empty).size == k) {
        val kept = buf(h).sorted.zipWithIndex
          .collect { case (x, i) if i % 2 == 0 => x }
        buf(h) = Vector.empty
        buf(h + 1) = buf.getOrElse(h + 1, Vector.empty) ++ kept
        h += 1
      }
    }
    buf.toMap.filter(_._2.nonEmpty).map { case (l, v) => l -> v.sorted.toSeq }
  }

  private def kllRows(df: org.apache.spark.sql.DataFrame)
      : Map[Int, Seq[Long]] =
    df.collect().map(r => (r.getAs[Int]("level"), r.getAs[Long]("value")))
      .groupBy(_._1).map { case (l, a) => l -> a.map(_._2).sorted.toSeq }

  test("kllSketchBy's closed form reproduces the sequential compactor" +
      " cascade exactly, at every size including partial buffers") {
    import graft.operators.Sketches
    for (n <- Seq(0, 1, 7, 8, 16, 23, 64, 100, 129, 300)) {
      val values = (0 until n).map(i => ((i * 97 + 13) % 1000).toLong)
      val df = values.zipWithIndex
        .map { case (v, i) => (i.toLong, "g", v) }
        .toDF("id", "grp", "value")
      val got = kllRows(Sketches.kllSketchBy(df, "value", "grp", k = 8))
      val want = kllCascadeReference(values, 8)
      assert(got === want, s"n=$n: got $got want $want")
      // weight preservation: sum of 2^level = n exactly
      assert(got.map { case (l, vs) => vs.size.toLong << l }.sum === n.toLong)
    }
  }

  test("kllCompactBy merge = the cascade over the expanded weighted" +
      " multiset; rank error stays inside the deterministic MRL bound") {
    import graft.operators.Sketches
    val k = 8
    val n = 500
    val all = (0 until n).map(i => ((i * 31 + 7) % 2000).toLong)
    val (evens, odds) = all.zipWithIndex.partition(_._2 % 2 == 0)
    def df(s: Seq[(Long, Int)]) = s.map { case (v, i) =>
      (i.toLong, "g", v) }.toDF("id", "grp", "value")
    val skA = Sketches.kllSketchBy(df(evens), "value", "grp", k)
    val skB = Sketches.kllSketchBy(df(odds), "value", "grp", k)
    val merged = Sketches.kllCompactBy(skA.unionByName(skB), "grp", k)
    val got = kllRows(merged)
    // reference: expand each input sketch row to 2^level copies and
    // run the cascade over the combined multiset
    val expanded = (kllRows(skA).toSeq ++ kllRows(skB).toSeq).flatMap {
      case (l, vs) => vs.flatMap(v => Seq.fill(1 << l)(v))
    }
    assert(got === kllCascadeReference(expanded, k))
    assert(got.map { case (l, vs) => vs.size.toLong << l }.sum === n.toLong)
    // deterministic error bound for build+build+merge: each stage's
    // worst case is (n_i/k)(floor(log2(n_i/k)) + 1)
    def bound(m: Long): Long = {
      val c = m / k
      if (c == 0) 0L else c * (63 - java.lang.Long.numberOfLeadingZeros(c) + 1)
    }
    val totalBound = bound(evens.size.toLong) + bound(odds.size.toLong) +
      bound(n.toLong)
    val sorted = all.sorted
    val rows = merged.collect()
      .map(r => (r.getAs[Int]("level"), r.getAs[Long]("value")))
      .sortBy(_._2)
    for (q <- Seq(0.1, 0.25, 0.5, 0.75, 0.9)) {
      val target = (q * n).toLong
      // estimated rank of the sketch's q-quantile vs its true rank
      var cum = 0L
      var est = sorted.head
      for ((l, v) <- rows if cum < target) { cum += 1L << l; est = v }
      val trueRank = sorted.count(_ < est)
      assert(math.abs(trueRank - target) <= totalBound + k,
        s"q=$q est=$est trueRank=$trueRank target=$target bound=$totalBound")
    }
  }

  test("kllSketchSharded = per-shard cascades folded by one weighted" +
      " compact; deterministic and weight-preserving") {
    import graft.operators.Sketches
    val k = 8; val shards = 4
    val n = 300
    val df = (0 until n).map(i => (i.toLong, "g", ((i * 53 + 11) % 1500).toLong))
      .toDF("id", "grp", "value")
    val got = kllRows(Sketches.kllSketchSharded(
      df, "id", "value", "grp", k, shards))
    // reference: group rows by the SAME id-hash salt, cascade each
    // shard, expand the shard sketches and cascade the union
    val md = java.security.MessageDigest.getInstance("MD5")
    def hash60(s: String): Long = {
      val d = md.digest(s.getBytes("UTF-8"))
      var v = 0L
      (0 until 8).foreach(b => v = (v << 8) | (d(b) & 0xffL))
      v >>> 4
    }
    val byShard = (0 until n).groupBy(i => (hash60(i.toString) % shards))
    val expanded = byShard.values.toSeq.flatMap { idxs =>
      kllCascadeReference(
        idxs.map(i => ((i * 53 + 11) % 1500).toLong), k).toSeq
        .flatMap { case (l, vs) => vs.flatMap(v => Seq.fill(1 << l)(v)) }
    }
    assert(got === kllCascadeReference(expanded, k))
    assert(got.map { case (l, vs) => vs.size.toLong << l }.sum === n.toLong)
    // determinism across physical layouts
    val again = kllRows(Sketches.kllSketchSharded(
      df.repartition(7), "id", "value", "grp", k, shards))
    assert(again === got)
  }

  test("KLL artifact: write/load/append fold epochs; the streaming" +
      " cursor makes a replayed batch a no-op and a reset fail loud") {
    import graft.operators.Sketches
    val path = "/tmp/graft_kll_spec"
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val a = (0 until 100).map(i => (i.toLong, "g", (i * 7 % 500).toLong))
      .toDF("id", "grp", "value")
    val b = (100 until 200).map(i => (i.toLong, "g", (i * 11 % 500).toLong))
      .toDF("id", "grp", "value")
    Sketches.writeKll(a, "value", "grp", path, k = 16)
    Sketches.ingestKllBatch(b, "value", "grp", path, batchId = 0L, k = 16)
    val rows1 = kllRows(Sketches.loadKll(spark, path).rows)
    // replayed batch id: cursor no-op, rows unchanged
    Sketches.ingestKllBatch(b, "value", "grp", path, batchId = 0L, k = 16)
    assert(kllRows(Sketches.loadKll(spark, path).rows) === rows1)
    // checkpoint reset (id below cursor after advancing): loud failure
    Sketches.ingestKllBatch(b.limit(5), "value", "grp", path, 1L, 16)
    intercept[IllegalArgumentException] {
      Sketches.ingestKllBatch(b, "value", "grp", path, batchId = 0L, k = 16)
    }
    // batch append equals the one-shot compact of the stored union
    val direct = kllRows(Sketches.kllCompactBy(
      Sketches.kllSketchBy(a, "value", "grp", 16)
        .unionByName(Sketches.kllSketchBy(b, "value", "grp", 16)),
      "grp", 16))
    assert(rows1 === direct,
      "appendKll must equal compact(stored union batch-sketch)")
    // estimator sanity: quantiles of 0..499-ish values land in range
    val q = Sketches.kllQuantilesBy(
      Sketches.loadKll(spark, path).rows, "grp").head()
    assert(q.getAs[Long]("n_total") === 205L)
    assert(q.getAs[Long]("p25") <= q.getAs[Long]("p50"))
    assert(q.getAs[Long]("p50") <= q.getAs[Long]("p75"))
  }

  private def parquetFileCount(path: String): Int =
    Option(new java.io.File(path).listFiles()).map(
      _.count(f => f.isFile && f.getName.endsWith(".parquet"))).getOrElse(0)

  test("DedupIndex.compact folds replay duplicates and append files;" +
      " probe results and ingest markers are bit-identical across it") {
    import graft.sources.DedupIndex
    val path = "/tmp/graft_dedupidx_cpt_spec"
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(hp, true)
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "one two three four five six seven"),
      (2L, "alpha beta gamma delta epsilon zeta")) // exact dup of 0
      .toDF("doc_id", "text")
    DedupIndex.build(corpus, "doc_id", "text", path, numFiles = 2)
    val baseHashFiles = parquetFileCount(s"$path/hashes")
    val baseBucketFiles = parquetFileCount(s"$path/buckets")
    // three appends, one with a simulated crash-replay double absorb
    for (i <- 1 to 3) {
      val b = DedupIndex.dedupBatch(spark, path,
        Seq((100L * i, s"fresh batch number $i content words here"),
          (100L * i + 1, "one two three four five six seven")) // exact dup
          .toDF("doc_id", "text"), "doc_id", "text")
      DedupIndex.absorb(spark, path, b, numFiles = 2)
      if (i == 2) DedupIndex.absorb(spark, path, b, numFiles = 2) // replay
    }
    // a marker from an ingest — compaction must preserve it
    val marker = new org.apache.hadoop.fs.Path(s"$path/ingested/batch_7")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .mkdirs(marker)
    val probe = Seq(
      (500L, "alpha beta gamma delta epsilon zeta"), // exact-dropped
      (501L, "totally novel probe document body"))
      .toDF("doc_id", "text")
    def probeIds() = DedupIndex.dedupBatch(spark, path, probe,
      "doc_id", "text").survivors.collect().map(_.getLong(0)).toSet
    val before = probeIds()
    val hashRowsBefore = spark.read.parquet(s"$path/hashes")
      .select("text_hash").distinct().count()
    assert(spark.read.parquet(s"$path/hashes").count() > hashRowsBefore,
      "the replayed absorb must have left duplicate hash rows")
    DedupIndex.compact(spark, path, numFiles = 2)
    assert(probeIds() === before, "probe parity across compaction")
    assert(before === Set(501L))
    val h = spark.read.parquet(s"$path/hashes")
    assert(h.count() === hashRowsBefore, "duplicates folded")
    assert(h.count() === h.select("text_hash").distinct().count())
    assert(parquetFileCount(s"$path/hashes") <= baseHashFiles,
      "hash file count back at build level")
    assert(parquetFileCount(s"$path/buckets") <= baseBucketFiles,
      "bucket file count back at build level")
    assert(marker.getFileSystem(
      spark.sparkContext.hadoopConfiguration).exists(marker),
      "ingest markers survive compaction (membership is unchanged)")
    // appends continue to work against the compacted artifacts
    val s2 = DedupIndex.append(spark, path, probe, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(s2 === Set(501L))
  }

  test("DedupIndex.compactSubstring folds duplicate gram hashes; the" +
      " batch rewrite is identical across compaction") {
    import graft.sources.DedupIndex
    val path = "/tmp/graft_dedupidx_csb_spec"
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val block = "this license block repeats verbatim across many documents"
    val corpus = Seq(
      (0L, s"$block and then some unique tail alpha beta gamma delta"),
      (1L, "a completely different document body with its own words"))
      .toDF("doc_id", "text")
    DedupIndex.buildSubstring(corpus, "doc_id", "text", path,
      spanWords = 4, numFiles = 2).collect()
    val batch = Seq(
      (10L, s"$block and a different unique tail here one two three"))
      .toDF("doc_id", "text")
    // simulated replay: absorb the same batch state twice
    val b = DedupIndex.dedupSubstringBatch(spark, path, batch,
      "doc_id", "text")
    DedupIndex.absorbSubstring(spark, path, b, numFiles = 2)
    DedupIndex.absorbSubstring(spark, path, b, numFiles = 2)
    val distinctBefore = spark.read.parquet(s"$path/grams")
      .distinct().count()
    assert(spark.read.parquet(s"$path/grams").count() > distinctBefore)
    val probe = Seq(
      (20L, s"$block with yet another novel continuation four five six"))
      .toDF("doc_id", "text")
    def rewrite() = DedupIndex.dedupSubstringBatch(spark, path, probe,
        "doc_id", "text").rewritten
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val before = rewrite()
    DedupIndex.compactSubstring(spark, path, numFiles = 2)
    assert(rewrite() === before, "rewrite parity across compaction")
    val g = spark.read.parquet(s"$path/grams")
    assert(g.count() === distinctBefore, "duplicate gram hashes folded")
  }

  test("DedupIndex.compactSemantic folds contradictory duplicate rows") {
    import graft.sources.DedupIndex
    def xz(deg: Double) = { val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, 0f, math.sin(r).toFloat, 0f) }
    def yw(deg: Double) = { val r = math.toRadians(deg)
      Array(0f, math.cos(r).toFloat, 0f, math.sin(r).toFloat) }
    val centroids = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)))
      .toDF("centroid_id", "__cv")
    val corpus = Seq(
      (0L, xz(0)),   // kept
      (1L, xz(25)),  // dropped by 0 (cos25 ≥ .9): shadower KEPT
      (2L, yw(0)),   // kept, other cell
      (4L, yw(25)),  // dropped by 2: shadower KEPT
      (5L, yw(50))   // dropped by DROPPED 4 only (vs 2: cos50 < .9)
    ).toDF("vec_id", "embedding")
    val path = "/tmp/graft_dedupidx_csm_spec"
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    DedupIndex.buildSemantic(corpus, "vec_id", "embedding", centroids,
      tau = 0.9, path)
    // plant the pre-fix replay corruption: vec 0 duplicated with a
    // contradictory kept=false flag
    val vecs = spark.read.parquet(s"$path/sem_vecs")
    vecs.filter(col("vec_id") === 0L)
      .withColumn("kept", lit(false))
      .write.mode("append").parquet(s"$path/sem_vecs")
    // the corruption this simulates came from absorbSemantic replays,
    // which drop the layout-clean sentinel before writing; the direct
    // parquet append above bypasses the API, so drop it by hand or the
    // compaction below would (correctly, per its contract) skip an
    // index it believes untouched
    new org.apache.hadoop.fs.Path(s"$path/_layout_clean_semantic")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(
        s"$path/_layout_clean_semantic"), true)
    val probe = Seq((30L, xz(30)), (31L, yw(80)))
      .toDF("vec_id", "embedding")
    def probeIds() = DedupIndex.dedupSemanticBatch(spark, path, probe,
      "vec_id", "embedding").survivors
      .collect().map(_.getLong(0)).toSet
    val before = probeIds()
    assert(before === Set(31L),
      "30 shadows via absorbed-dropped 1 (cos5); 31 is ≥ 30° from" +
        " every cell-1 vector")
    DedupIndex.compactSemantic(spark, path, numFiles = 2)
    assert(probeIds() === before, "probe parity across compaction")
    val folded = spark.read.parquet(s"$path/sem_vecs")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept"))
    assert(folded.length === folded.map(_._1).distinct.length,
      "vec_id duplicates folded")
    assert(folded.toMap.apply(0L) === true,
      "the original kept flag wins over the corrupt duplicate")
  }

  test("compaction fast path: an index untouched since build/compact is" +
      " not rewritten (file identity preserved); any absorb re-arms the" +
      " full rewrite") {
    import graft.sources.{DedupIndex, RetrievalIndex}
    def files(p: String): Set[String] =
      Option(new java.io.File(p).listFiles()).map(
        _.filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(_.getName).toSet).getOrElse(Set.empty)
    val path = "/tmp/graft_dedupidx_fast_spec"
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    DedupIndex.build(corpus, "doc_id", "text", path, numFiles = 2)
    val (h0, b0) = (files(s"$path/hashes"), files(s"$path/buckets"))
    // untouched since build → compact must not rewrite a byte
    DedupIndex.compact(spark, path, numFiles = 2)
    assert(files(s"$path/hashes") === h0 &&
      files(s"$path/buckets") === b0,
      "compact of an untouched index must skip the rewrite")
    // ...whatever numFiles asks for: a clean index keeps its layout
    DedupIndex.compact(spark, path, numFiles = 5)
    assert(files(s"$path/hashes") === h0 &&
      files(s"$path/buckets") === b0,
      "a clean index ignores numFiles")
    // an absorb re-arms the rewrite...
    val b = DedupIndex.dedupBatch(spark, path,
      Seq((100L, "a novel batch document body")).toDF("doc_id", "text"),
      "doc_id", "text")
    DedupIndex.absorb(spark, path, b, numFiles = 2)
    assert(files(s"$path/hashes") !== h0)
    DedupIndex.compact(spark, path, numFiles = 2)
    val h1 = files(s"$path/hashes")
    assert(h1 !== h0, "dirty index must compact for real")
    // ...and compact-after-compact is again a skip
    DedupIndex.compact(spark, path, numFiles = 2)
    assert(files(s"$path/hashes") === h1)
    // retrieval index: the delta directories are the generation signal
    val rpath = "/tmp/graft_bm25idx_fast_spec"
    new org.apache.hadoop.fs.Path(rpath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(rpath), true)
    RetrievalIndex.build(corpus, "doc_id", "text", rpath, numFiles = 2)
    val p0 = files(s"$rpath/postings")
    RetrievalIndex.compact(spark, rpath, numFiles = 2)
    assert(files(s"$rpath/postings") === p0,
      "no append deltas → nothing to fold → no rewrite")
    RetrievalIndex.compact(spark, rpath, numFiles = 5)
    assert(files(s"$rpath/postings") === p0,
      "an index with no deltas ignores numFiles")
    RetrievalIndex.append(spark, rpath,
      Seq((100L, "appended words here")).toDF("doc_id", "text"),
      "doc_id", "text", "a0", numFiles = 2)
    RetrievalIndex.compact(spark, rpath, numFiles = 2)
    assert(files(s"$rpath/postings") !== p0,
      "append deltas present → compact folds them")
    val scored = RetrievalIndex.score(spark, rpath,
      Seq(0L -> "alpha appended")).collect()
    assert(scored.nonEmpty)
  }

  test("Commit.runAll awaits every task before it rethrows the first" +
      " failure") {
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      graft.sources.Commit.runAll(Seq(
        () => throw new IllegalStateException("first task fails at once"),
        () => { Thread.sleep(500); siblingDone.set(true) }))
    }
    assert(e.getMessage === "first task fails at once")
    assert(siblingDone.get,
      "the slow sibling must have finished before runAll rethrew")
  }

  test("bm25Scores: exact Okapi/Lucene values on a hand-checked corpus;" +
      " non-matching docs absent; topKPerKey(qid) bounds retrieval") {
    val corpus = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "banana banana cherry cherry"),
      (3L, "durian only here")).toDF("doc_id", "text")
    val queries = Seq(0L -> "apple", 1L -> "banana cherry")
    val out = TextAnalysis.bm25Scores(corpus, "doc_id", "text", queries)
    val got = out.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id")) ->
        r.getAs[Double]("score")).toMap
    // only docs with >=1 matching term appear; d3 never does
    assert(got.keySet === Set((0L, 0L), (0L, 1L),
      (1L, 0L), (1L, 1L), (1L, 2L)))
    // hand-replay: N=4, avgdl=(3+2+4+3)/4=3, k1=1.2, b=0.75,
    // idf = ln(1 + (N-df+.5)/(df+.5)), tfw = tf*2.2/(tf+(dl/avgdl*.75+.25)*1.2)
    val n = 4.0; val avgdl = 3.0
    def idf(df: Double) = math.log(1 + (n - df + 0.5) / (df + 0.5))
    def tfw(tf: Double, dl: Double) =
      tf * 2.2 / (tf + (dl / avgdl * 0.75 + 0.25) * 1.2)
    // q0="apple": df=2; d0 tf=2 dl=3; d1 tf=1 dl=2
    assert(math.abs(got((0L, 0L)) - idf(2) * tfw(2, 3)) < 1e-12)
    assert(math.abs(got((0L, 1L)) - idf(2) * tfw(1, 2)) < 1e-12)
    // q1="banana cherry": banana df=2 (d0,d2), cherry df=2 (d1,d2)
    assert(math.abs(got((1L, 0L)) - idf(2) * tfw(1, 3)) < 1e-12)
    assert(math.abs(got((1L, 1L)) - idf(2) * tfw(1, 2)) < 1e-12)
    assert(math.abs(got((1L, 2L)) -
      (idf(2) * tfw(2, 4) + idf(2) * tfw(2, 4))) < 1e-12)
    // bounded retrieval: one shuffle top-k per qid, no corpus sort
    val top1 = graft.operators.TopK.topKPerKey(
      out, Seq("qid"), "score", "doc_id", 1).collect()
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("doc_id")).toMap
    assert(top1 === Map(0L -> 0L, 1L -> 2L))
  }

  test("RetrievalIndex: probe parity with the direct form; append" +
      " replay (marker hit AND crash-replay) never duplicates;" +
      " markers survive compact; empty index fails fast") {
    import graft.sources.RetrievalIndex
    val path = java.nio.file.Files
      .createTempDirectory("graft_ridx").toString
    val base = Seq(
      (0L, "apple banana apple"), (1L, "apple cherry"),
      (2L, "banana banana cherry cherry")).toDF("doc_id", "text")
    val batch = Seq((3L, "apple durian"), (4L, "cherry apple apple"))
      .toDF("doc_id", "text")
    val all = base.unionByName(batch)
    val qs = Seq(0L -> "apple cherry")
    def scores(): Map[(Long, Long), Double] =
      RetrievalIndex.score(spark, path, qs).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id")) ->
          (math.rint(r.getAs[Double]("score") * 1e9) / 1e9)).toMap
    RetrievalIndex.build(base, "doc_id", "text", path, numFiles = 2)
    val buildPostingFiles = parquetFileCount(s"$path/postings")
    RetrievalIndex.append(spark, path, batch, "doc_id", "text", "x")
    val expected = graft.operators.TextAnalysis
      .bm25Scores(all, "doc_id", "text", qs).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id")) ->
        (math.rint(r.getAs[Double]("score") * 1e9) / 1e9)).toMap
    assert(scores() === expected, "index probe == direct one-pass form")
    // replay with marker present: no-op
    RetrievalIndex.append(spark, path, batch, "doc_id", "text", "x")
    assert(scores() === expected)
    // crash-replay: marker lost mid-append (worst case: deltas already
    // written) — the replay OVERWRITES its own delta dirs, no dup rows
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/ingested/append_x"), true)
    RetrievalIndex.append(spark, path, batch, "doc_id", "text", "x")
    assert(scores() === expected, "idempotent overwrite after crash")
    // compact folds deltas, probe hash-parity holds, marker survives
    RetrievalIndex.compact(spark, path, numFiles = 2)
    assert(scores() === expected, "bit-parity through compaction")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/batch_postings")))
    assert(parquetFileCount(s"$path/postings") <= buildPostingFiles + 1,
      "posting file count back at build level")
    RetrievalIndex.append(spark, path, batch, "doc_id", "text", "x")
    assert(scores() === expected, "post-compact replay still no-ops")
    val idx = RetrievalIndex.load(spark, path)
    assert(idx.nDocs === 5L && idx.sumDl === 14L)
    // empty index fails fast instead of NaN avgdl
    val empty = s"$path/empty"
    RetrievalIndex.build(base.filter(col("doc_id") < 0),
      "doc_id", "text", empty, numFiles = 1)
    assertThrows[IllegalArgumentException] {
      RetrievalIndex.score(spark, empty, qs)
    }
  }

  test("AnnIndex.compact: folds append files, codes row set and meta" +
      " are bit-identical, numFiles validated") {
    import graft.sources.AnnIndex
    val path = java.nio.file.Files
      .createTempDirectory("graft_annc").toString
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("centroid_id", "__cv")
    def codesDf(ids: Range) = ids.map(i =>
        (i.toLong, (i % 2).toLong, Seq(i % 4, (i + 1) % 4)))
      .toDF("neighbor_id", "centroid_id", "codes")
    AnnIndex.write(path, cents, Array(Array(0.0, 0.0)),
      codesDf(0 until 8), m = 2, residual = false)
    // simulate two appends landing extra files
    codesDf(8 until 12).repartition(4)
      .write.mode("append").parquet(s"$path/codes")
    codesDf(12 until 16).repartition(4)
      .write.mode("append").parquet(s"$path/codes")
    def rows(): Set[(Long, Long, Seq[Int])] =
      AnnIndex.load(spark, path).codes.collect()
        .map(r => (r.getAs[Long]("neighbor_id"),
          r.getAs[Long]("centroid_id"),
          r.getAs[scala.collection.Seq[Int]]("codes").toSeq)).toSet
    def nFiles(): Int = {
      val p = new org.apache.hadoop.fs.Path(s"$path/codes")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).count(f => f.getPath.getName.endsWith(".parquet"))
    }
    val before = rows()
    val filesBefore = nFiles()
    AnnIndex.compact(spark, path, numFiles = 2)
    assert(nFiles() === 2 && filesBefore > 2)
    assert(rows() === before, "compaction rewrites layout, not data")
    val idx = AnnIndex.load(spark, path)
    assert(idx.m === 2 && !idx.residual && idx.codebook.length === 1)
    assertThrows[IllegalArgumentException] {
      AnnIndex.compact(spark, path, numFiles = 0)
    }
  }

  test("embeddingOutliers: isolated member flagged at z=1, aligned" +
      " members clean, mean/threshold hand-checked") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(2f, 0f)), (2L, Array(3f, 0f)),
      (3L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val cents = Seq((100L, Array(1f, 0f)))
      .toDF("centroid_id", "__cv")
    val got = Similarity.embeddingOutliers(
      vecs, "vec_id", "embedding", cents, z = 1.0).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Double]("cos_sim"), r.getAs[Double]("cluster_mean"),
          r.getAs[Boolean]("flagged")))).toMap
    // sims {1,1,1,0}: mean .75, sd sqrt(.1875)≈.433, cut ≈ .317
    assert(got(0L) === ((1.0, 0.75, false)))
    assert(got(1L)._3 === false && got(2L)._3 === false)
    assert(got(3L) === ((0.0, 0.75, true)))
  }

  test("recallAtK: hand-counted hit fractions; candidate-less query" +
      " reads 0; ranks beyond k ignored") {
    import graft.operators.Retrieval
    val truth = Seq((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3),
      (1L, 20L, 1), (1L, 21L, 2), (1L, 22L, 3),
      (2L, 30L, 1)).toDF("qid", "nid", "rk")
    val cand = Seq((0L, 11L, 1), (0L, 99L, 2), (0L, 12L, 3),
      (0L, 10L, 4), // beyond k=3: must NOT count
      (1L, 20L, 1), (1L, 21L, 2), (1L, 22L, 3)
    ).toDF("qid", "nid", "rk")
    val got = Retrieval.recallAtK(cand, truth, "qid", "nid", "rk", k = 3)
      .collect().map(r => r.getAs[Long]("qid") ->
        ((r.getAs[Long]("n_truth"), r.getAs[Long]("n_hit"),
          r.getAs[Double]("recall")))).toMap
    assert(got(0L) === ((3L, 2L, 0.666667))) // 11,12 hit; 10 at rank 4
    assert(got(1L) === ((3L, 3L, 1.0)))
    assert(got(2L) === ((1L, 0L, 0.0)))
  }

  test("compactZOrdered: appended files overlap the z-range, the" +
      " OPTIMIZE pass restores disjoint per-file ranges with rows" +
      " unchanged") {
    import graft.sources.Tables
    val path = java.nio.file.Files
      .createTempDirectory("graft_zc").toString + "/tbl"
    val rows = (0L until 4000L).map(i => (i, (i * 2654435761L) % 4000L))
      .toDF("x", "y")
    Tables.writeZOrdered(rows.filter(col("x") % 2 === 0),
      Seq("x", "y"), path, numFiles = 4)
    Tables.appendZOrdered(rows.filter(col("x") % 2 =!= 0), path,
      numFiles = 2)
    // per-file z ranges, computed with the FULL table's stats
    def fileRanges(): Seq[(Long, Long)] = {
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(hp).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).toSeq
      val all = spark.read.parquet(path)
      val st = all.agg(min(col("x")), max(col("x")),
        min(col("y")), max(col("y"))).head()
      val lanes = Seq(
        Tables.zorderScale(col("x"), st.getLong(0), st.getLong(1)),
        Tables.zorderScale(col("y"), st.getLong(2), st.getLong(3)))
      files.map { f =>
        val z = spark.read.parquet(f)
          .select(Tables.zorderValue(lanes).as("z"))
          .agg(min(col("z")), max(col("z"))).head()
        (z.getLong(0), z.getLong(1))
      }
    }
    def overlaps(r: Seq[(Long, Long)]): Boolean =
      r.sorted.sliding(2).exists {
        case Seq((_, hi1), (lo2, _)) => lo2 <= hi1
        case _ => false
      }
    val before = rows.collect().toSet
    assert(overlaps(fileRanges()),
      "unclustered appended files must straddle the z-range")
    Tables.compactZOrdered(spark, path, Seq("x", "y"), numFiles = 4)
    val after = fileRanges()
    assert(after.size === 4 && !overlaps(after),
      "OPTIMIZE must restore disjoint per-file z-ranges")
    assert(spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === before.map {
        r => (r.getAs[Long]("x"), r.getAs[Long]("y")) },
      "compaction rewrites layout, never rows")
  }

  test("scriptRatios: empty and other label lanes; mixed doc picks" +
      " the dominant script; ties break by precedence") {
    val d = Seq((0L, "   "), (1L, "12345 !!!"),
      (2L, "хорошо good но больше русского"),
      (3L, "ab яб")).toDF("doc_id", "text") // 2 latin vs 2 cyrillic: tie
    val got = TextAnalysis.scriptRatios(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("script"), r.getAs[Double]("frac_cyrillic")))
      .toMap
    assert(got(0L)._1 === "empty")
    assert(got(1L)._1 === "other")
    assert(got(2L) === (("cyrillic", 0.846154))) // 22 of 26 non-space
    assert(got(3L)._1 === "latin", "tie goes to the precedence order")
  }

  test("ndcgAtK: hand-computed discounted gains; perfect list reads" +
      " 1.0; empty candidate list reads 0") {
    import graft.operators.Retrieval
    val truth = Seq((0L, 10L, 1), (0L, 11L, 2),
      (1L, 20L, 1), (1L, 21L, 2), (2L, 30L, 1)).toDF("qid", "nid", "rk")
    val cand = Seq((0L, 10L, 1), (0L, 11L, 2), // perfect
      (1L, 99L, 1), (1L, 21L, 2) // one hit at rank 2
    ).toDF("qid", "nid", "rk")
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    def disc(r: Int) = 1.0 / (math.log(r + 1.0) / math.log(2.0))
    val got = Retrieval.ndcgAtK(cand, truth, "qid", "nid", "rk", k = 3)
      .collect().map(r => r.getAs[Long]("qid") ->
        ((r.getAs[Double]("dcg"), r.getAs[Double]("ndcg")))).toMap
    assert(got(0L) === ((r6(disc(1) + disc(2)), 1.0)))
    assert(got(1L) ===
      ((r6(disc(2)), r6(disc(2) / (disc(1) + disc(2))))))
    assert(got(2L) === ((0.0, 0.0)))
  }

  test("reciprocalRankAtK: first-hit ranks, no-hit reads 0, candidate" +
      " rank beyond k ignored") {
    import graft.operators.Retrieval
    val truth = Seq((0L, 10L, 1), (0L, 11L, 2),
      (1L, 20L, 1), (2L, 30L, 1)).toDF("qid", "nid", "rk")
    val cand = Seq((0L, 99L, 1), (0L, 11L, 2), (0L, 10L, 3),
      (1L, 20L, 4), // beyond k=3
      (2L, 31L, 1)).toDF("qid", "nid", "rk")
    val got = Retrieval.reciprocalRankAtK(cand, truth,
        "qid", "nid", "rk", k = 3).collect()
      .map(r => r.getAs[Long]("qid") -> r.getAs[Double]("rr")).toMap
    assert(got === Map(0L -> 0.5, 1L -> 0.0, 2L -> 0.0))
  }

  test("charEntropy: hand values (uniform/binary/empty), code-point" +
      " multibyte contract, codegen bit-equals interpreted") {
    import graft.functions.TextFunctions.charEntropy
    val d = Seq((0L, "aaaa"), (1L, "abab"), (2L, "abcd"), (3L, ""),
      (4L, "€€aa"), (5L, "aab")).toDF("id", "text")
    def run(): Map[Long, Double] = d
      .select(col("id"), charEntropy(col("text")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val interpreted = run()
    assert(interpreted(0L) === 0.0)
    assert(interpreted(1L) === 1.0)
    assert(interpreted(2L) === 2.0)
    assert(interpreted(3L) === 0.0)
    assert(interpreted(4L) === 1.0) // € counts as ONE code point
    // H(2/3,1/3) = log2(3) - (2*1)/3
    assert(math.abs(interpreted(5L) -
      (math.log(3) / math.log(2) - 2.0 / 3)) < 1e-12)
    val conf = spark.conf
    conf.set("spark.sql.codegen.wholeStage", "true")
    conf.set("spark.sql.codegen.fallback", "false")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try assert(run() === interpreted)
    finally {
      conf.set("spark.sql.codegen.fallback", "true")
      conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("hardNegatives: near-dup candidates excluded as hidden" +
      " positives, ranks re-densify, undirected pair symmetry") {
    import graft.operators.Retrieval
    val cands = Seq(
      (0L, 10L, 0.9), (0L, 11L, 0.8), (0L, 12L, 0.7), (0L, 13L, 0.6),
      (1L, 10L, 0.5), (1L, 14L, 0.4)
    ).toDF("query_id", "neighbor_id", "cos_sim")
    // 10 is a near-dup of anchor 0 (stored reversed: pair symmetry);
    // 14 is a near-dup of anchor 1
    val pairs = Seq((10L, 0L), (1L, 14L)).toDF("id_a", "id_b")
    val got = Retrieval.hardNegatives(cands, pairs, kNeg = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("neg_rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    // anchor 0: 10 excluded, 11 and 12 take ranks 1-2 (13 cut by kNeg)
    // anchor 1: 14 excluded, 10 is NOT a near-dup of 1 → rank 1
    assert(got === Map((0L, 1) -> 11L, (0L, 2) -> 12L, (1L, 1) -> 10L))
  }

  test("crossDocGramExposure: hand-computed shared-gram fractions;" +
      " short docs read zero; disjoint docs read zero") {
    val w20 = (1 to 20).map(i => s"w$i").mkString(" ")
    val w19x = (1 to 19).map(i => s"w$i").mkString(" ") + " CHANGED"
    val first13 = (1 to 13).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (0L, w20),                       // 8 grams, 7 shared with d1
      (1L, w19x),                      // 8 grams, 7 shared with d0
      (2L, "totally different words entirely " * 5), // disjoint
      (3L, "too short"),               // < 13 words
      (4L, first13)                    // 1 gram = d0's gram 1
    ).toDF("doc_id", "text")
    val got = Dedup.crossDocGramExposure(d, "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("dup_grams"),
          r.getAs[Double]("exposure")))).toMap
    // grams 1-7 shared with d1 (gram 8 holds the changed word); gram 1
    // is ALSO d4's — same position, still 7 distinct dup positions
    assert(got(0L) === ((8L, 7L, 0.875)))
    assert(got(1L) === ((8L, 7L, 0.875)))
    assert(got(2L)._2 === 0L && got(2L)._3 === 0.0)
    assert(got(3L) === ((0L, 0L, 0.0)))
    assert(got(4L) === ((1L, 1L, 1.0)))
  }

  test("tfidfTopTerms: hand-checked smooth-idf scores, rank order," +
      " term-ASC tie-break, kTop bound") {
    val d = Seq((0L, "apple apple banana"), (1L, "banana cherry"),
      (2L, "zeta alpha")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(d, "doc_id", "text", kTop = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rk")) ->
        (r.getAs[String]("term"), r.getAs[Double]("tfidf"))).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val idfRare = math.log(4.0 / 2.0) + 1 // N=3, df=1
    val idfBoth = math.log(4.0 / 3.0) + 1 // df=2
    assert(got((0L, 1)) === (("apple", r6(2 * idfRare))))
    assert(got((0L, 2)) === (("banana", r6(idfBoth))))
    assert(got((1L, 1)) === (("cherry", r6(idfRare))))
    assert(got((1L, 2)) === (("banana", r6(idfBoth))))
    // equal scores: term-ASC wins rank 1
    assert(got((2L, 1))._1 === "alpha" && got((2L, 2))._1 === "zeta")
    assert(got.size === 6, "kTop bounds every doc")
  }

  test("filterAboveQuantileBy: exact lower-median cutoff per group at" +
      " small n; singleton group survives; bad quantile rejected") {
    import graft.operators.Sketches
    val rows = ((1 to 10).map(v => ("a", v.toLong, v.toLong)) :+
      (("b", 99L, 100L))).toDF("grp", "id", "score")
    val kept = Sketches.filterAboveQuantileBy(
      rows, "id", "score", "grp").collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("id"))).toSet
    // n<=k: the sketch holds every value exactly; lower median of 1..10
    // is 5, so ids 5..10 survive in group a; b's only row is its median
    assert(kept === ((5L to 10L).map("a" -> _).toSet + ("b" -> 99L)))
    assertThrows[IllegalArgumentException] {
      Sketches.filterAboveQuantileBy(rows, "id", "score", "grp", "p99")
    }
  }

  test("leakageSafeSplit: chained near-dup clusters move as one unit;" +
      " singletons reduce to the plain hash split") {
    import graft.operators.Sampling
    val ids = (0L until 50L).map(i => Tuple1(i)).toDF("doc_id")
    // chain 3-7-9 plus pair 20-21; everything else singleton
    val pairs = Seq((3L, 7L), (7L, 9L), (20L, 21L)).toDF("id_a", "id_b")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Sampling.leakageSafeSplit(ids, "doc_id", pairs, splits)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("root"), r.getAs[String]("split"))).toMap
    assert(Set(out(3L), out(7L), out(9L)).size === 1,
      "chain collapses to one (root, split)")
    assert(out(3L)._1 === 3L)
    assert(out(20L) === out(21L) && out(20L)._1 === 20L)
    // singletons: root = self, split = assignSplit's
    val plain = Sampling.assignSplit(ids, "doc_id", splits).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    (0L until 50L).filterNot(Set(3L, 7L, 9L, 20L, 21L)).foreach { i =>
      assert(out(i) === ((i, plain(i))))
    }
  }

  test("diffReleases: added/removed/changed statuses; agreeing shards" +
      " are NEVER read (deleted shard data goes unnoticed); shard-count" +
      " mismatch falls back to a full-data diff") {
    import graft.sources.Release
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files
      .createTempDirectory("graft_rdiff").toString
    val d0 = (0L until 10L).map(i => (i, s"text number $i"))
      .toDF("doc_id", "text")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("shard", LongType)))
    Release.writeRelease(d0, "doc_id", "text", s"$base/v1", nShards = 2)
    // pick mutation ids from ONE shard so the other shard agrees
    val byShard = Release.loadRelease(spark, s"$base/v1", schema).rows
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hot = byShard.groupBy(_._2).maxBy(_._2.size)._1
    val hotIds = byShard.filter(_._2 == hot).keys.toSeq.sorted
    val (remId, chgId) = (hotIds(0), hotIds(1))
    val addId = 100L // new doc; lands wherever its hash says
    val d2 = d0.filter(col("doc_id") =!= remId)
      .withColumn("text", when(col("doc_id") === chgId,
        lit("revised")).otherwise(col("text")))
      .unionByName(Seq((addId, "fresh doc")).toDF("doc_id", "text"))
    Release.writeRelease(d2, "doc_id", "text", s"$base/v2", nShards = 2)
    def statuses(p2: String): Map[Long, String] =
      Release.diffReleases(spark, s"$base/v1", p2, schema,
        "doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
    val expected = Map(remId -> "removed", chgId -> "changed",
      addId -> "added")
    assert(statuses(s"$base/v2") === expected)
    // the cold shard's manifests agree → its DATA is never opened:
    // delete v2's copy outright; a full diff would report every cold
    // doc as removed, the pruned diff must notice nothing
    val addShard = Release.loadRelease(spark, s"$base/v2", schema).rows
      .filter(col("doc_id") === addId).select("shard").head().getLong(0)
    val coldShards = byShard.values.toSet - hot - addShard
    if (coldShards.nonEmpty) {
      val cold = coldShards.head
      val cp = new org.apache.hadoop.fs.Path(s"$base/v2/data/shard=$cold")
      val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(cp))
      fs.delete(cp, true)
      assert(statuses(s"$base/v2") === expected,
        "manifest-agreeing shard data must not be read")
    }
    // different shard count → no pruning, full diff, same statuses
    Release.writeRelease(d2, "doc_id", "text", s"$base/v3", nShards = 4)
    assert(statuses(s"$base/v3") === expected)
  }

  test("rrfFuse: hand-checked reciprocal-rank sums; single-list docs" +
      " contribute one term; ties break by id") {
    import graft.operators.Retrieval
    val lex = Seq((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3))
      .toDF("qid", "doc_id", "rk")
    val vec = Seq((0L, 11L, 1), (0L, 13L, 2), (0L, 10L, 3))
      .toDF("qid", "doc_id", "rk")
    val got = Retrieval.rrfFuse(Seq(lex, vec), "qid", "doc_id", "rk", k = 4)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Double]("rrf"), r.getAs[Int]("rk")))
      .sortBy(_._3)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // doc 11: 1/62 + 1/61; doc 10: 1/61 + 1/63; doc 12: 1/63; doc 13: 1/62
    val e11 = r6(1.0 / 62 + 1.0 / 61)
    val e10 = r6(1.0 / 61 + 1.0 / 63)
    assert(got.toList === List(
      (11L, e11, 1), (10L, e10, 2),
      (13L, r6(1.0 / 62), 3), (12L, r6(1.0 / 63), 4)))
  }

  test("compactZOrdered: re-run after a crash between the swap" +
      " renames recovers the table (roll-forward and roll-back)," +
      " rows unchanged") {
    import graft.sources.Tables
    val hconf = spark.sparkContext.hadoopConfiguration
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = p("/tmp").getFileSystem(hconf)
    def rowsAt(path: String): Set[(Long, Long)] =
      spark.read.parquet(path).collect()
        .map(r => (r.getAs[Long]("x"), r.getAs[Long]("y"))).toSet
    val rows = (0L until 500L).map(i => (i, (i * 7) % 500L)).toDF("x", "y")
    val expected = rows.collect()
      .map(r => (r.getAs[Long]("x"), r.getAs[Long]("y"))).toSet
    // roll-forward: crash AFTER rename #1 (table gone, staged copy
    // complete at .compact, old data at .old) — the advisory's
    // data-loss scenario: a pre-fix re-run deleted both side dirs
    val fwd = java.nio.file.Files
      .createTempDirectory("graft_zrec").toString + "/tbl"
    Tables.writeZOrdered(rows, Seq("x", "y"), fwd, numFiles = 2)
    Tables.writeZOrdered(spark.read.parquet(fwd), Seq("x", "y"),
      s"$fwd.compact", numFiles = 4)
    assert(fs.rename(p(fwd), p(s"$fwd.old")))
    Tables.compactZOrdered(spark, fwd, Seq("x", "y"), numFiles = 4)
    assert(rowsAt(fwd) === expected, "roll-forward must lose no rows")
    assert(!fs.exists(p(s"$fwd.old")) && !fs.exists(p(s"$fwd.compact")))
    // roll-back: crash with only .old present (e.g. staged copy was
    // already swapped-away/cleaned) — recover the old table
    val bck = java.nio.file.Files
      .createTempDirectory("graft_zrec").toString + "/tbl"
    Tables.writeZOrdered(rows, Seq("x", "y"), bck, numFiles = 2)
    assert(fs.rename(p(bck), p(s"$bck.old")))
    Tables.compactZOrdered(spark, bck, Seq("x", "y"), numFiles = 4)
    assert(rowsAt(bck) === expected, "roll-back must lose no rows")
    assert(!fs.exists(p(s"$bck.old")) && !fs.exists(p(s"$bck.compact")))
  }

  test("RetrievalIndex: non-numeric doc ids keep their native type —" +
      " probe parity with the direct form, no silent null collapse") {
    import graft.sources.RetrievalIndex
    val path = java.nio.file.Files
      .createTempDirectory("graft_ridx_str").toString
    val d = Seq(("doc-a", "apple banana apple"), ("doc-b", "apple cherry"),
      ("doc-c", "banana banana cherry")).toDF("doc_id", "text")
    val qs = Seq(0L -> "apple cherry")
    RetrievalIndex.build(d, "doc_id", "text", path, numFiles = 2)
    val got = RetrievalIndex.score(spark, path, qs).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[String]("doc_id")) ->
        (math.rint(r.getAs[Double]("score") * 1e9) / 1e9)).toMap
    val expected = graft.operators.TextAnalysis
      .bm25Scores(d, "doc_id", "text", qs).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[String]("doc_id")) ->
        (math.rint(r.getAs[Double]("score") * 1e9) / 1e9)).toMap
    assert(got === expected)
    assert(got.keySet.map(_._2) === Set("doc-a", "doc-b", "doc-c"),
      "every string id must survive indexing distinctly")
  }

  test("ivfPqRefinedTopK: exact cosines on ADC candidates — refined" +
      " top-k equals brute-force truth when the probed cells cover it," +
      " and per-query recall never drops below raw ADC") {
    val rnd = new scala.util.Random(11)
    val vecs = Seq.tabulate(80)(i =>
      (i.toLong, Array.fill(8)(rnd.nextDouble()))).toDF("vec_id", "embedding")
    val centroids = vecs.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("__cv"))
    val cb = Similarity.pqTrainCodebook(vecs, "vec_id", "embedding",
      m = 2, k = 4, iters = 1)
    val qs = vecs.filter(col("vec_id") < 4)
    // probes = 2 of 2 cells → candidate pool is the WHOLE corpus, and
    // refine·k = 90 ≥ corpus size keeps EVERY candidate in the refine
    // window; exact re-rank must then reproduce brute-force truth
    val refined = Similarity.ivfPqRefinedTopK(qs, vecs, "vec_id",
      "embedding", centroids, cb, m = 2, k = 3, probes = 2, refine = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    val truth = Similarity.knnBruteForce(qs, vecs, "vec_id", "embedding",
        k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    assert(refined === truth,
      "full-coverage refine must equal exact brute-force top-k")
    // at a tight refine window, refined recall must still dominate ADC
    val adc = Similarity.ivfPqTopK(qs, vecs, "vec_id", "embedding",
      centroids, cb, m = 2, k = 3, probes = 2)
    val refined2 = Similarity.ivfPqRefinedTopK(qs, vecs, "vec_id",
      "embedding", centroids, cb, m = 2, k = 3, probes = 2, refine = 3)
    val tr = Similarity.knnBruteForce(qs, vecs, "vec_id", "embedding", k = 3)
    def recalls(c: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      graft.operators.Retrieval.recallAtK(c, tr, "query_id",
        "neighbor_id", "knn_rank", 3).collect()
        .map(r => r.getAs[Long]("query_id") ->
          r.getAs[Double]("recall")).toMap
    val (ra, rr) = (recalls(adc), recalls(refined2))
    assert(ra.keySet === rr.keySet)
    // exact re-rank of a SUPERSET of the ADC pool can only help
    assert(ra.forall { case (q, v) => rr(q) >= v },
      s"refined recall must dominate ADC per query: adc=$ra refined=$rr")
    // residual-ADC candidates feed the same exact refine half
    val refinedRes = Similarity.ivfPqRefinedTopK(qs, vecs, "vec_id",
      "embedding", centroids, cb, m = 2, k = 3, probes = 2,
      refine = 30, residual = true)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    assert(refinedRes === truth)
  }

  test("bench fixture path: a materialized codec payload frame is" +
      " row-identical to the in-plan build (SparkEntry.fixturized" +
      " must never change what the operator sees)") {
    // the property only graft.Bench sets; scoped to this test
    val key = "graft.fixture.dir"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fixspec").toString
    // build the same frame with and without the fixture dir through
    // the PUBLIC gate entry (payload bytes must match exactly)
    val q = SparkEntry.queries("multimodal_dhash_png")
    val inPlan = q(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    sys.props(key) = dir
    try {
      val viaFixture = q(spark, "/root/testdata/sf0.001").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(viaFixture.sameElements(inPlan))
      // second call reads the materialized parquet (idempotent)
      val again = q(spark, "/root/testdata/sf0.001").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(again.sameElements(inPlan))
    } finally sys.props.remove(key)
  }

  test("gate selection: unset selects all 299 gates, a list exactly its" +
      " names, and an unknown or empty list is rejected by name") {
    val all = SparkEntry.select(None).toOption.get
    assert(all.size === 299)
    assert(all.keySet === SparkEntry.queries.keySet)
    assert(all.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.select(Some("q1_agg, to_long_map")).map(_.keySet) ===
      Right(Set("q1_agg", "to_long_map")))
    val bad = SparkEntry.select(Some("q1_agg,no_such_gate"))
    assert(bad.isLeft && bad.left.toOption.get.contains("no_such_gate"))
    assert(SparkEntry.select(Some(" , ")).isLeft)
  }

  test("HashedBagCountsExpr equals hashedFeatures' per-doc rows for" +
      " both ngram settings (the join-free trainer's feature parity)") {
    import graft.operators.Classifier
    import org.apache.spark.sql.GraftColumnCompat._
    val d = Seq(
      (0L, "the quick brown fox the quick"),
      (1L, "single"),
      (2L, ""),                               // token-less: bias only
      (3L, "a b a b a b c")).toDF("doc_id", "text")
    for (ngrams <- Seq(1, 2); buckets <- Seq(8, 64)) {
      val expected = Classifier
        .hashedFeatures(d, "doc_id", "text", buckets, ngrams)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val wordsCol = filter(split(trim(lower(col("text"))), "\\s+"),
        w => length(w) > 0)
      val got = d.select(col("doc_id"),
          explode(toColumn(graft.functions.HashedBagCountsExpr(
            toExpression(wordsCol), buckets, ngrams))).as("f"))
        .select(col("doc_id"), col("f.b").cast("long"), col("f.x"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got === expected, s"ngrams=$ngrams buckets=$buckets")
    }
  }

  test("Classifier: NULL-text docs train as bias-only vectors in the" +
      " fused path (same weights as empty text), matching the" +
      " exploded path's bias row") {
    import graft.operators.Classifier
    val base = Seq(
      (0L, "clean prose about weather", 0.0),
      (1L, "spamspam junkjunk spamspam", 1.0),
      (2L, "more clean prose here", 0.0))
    val withNull = (base :+ ((3L, null: String, 0.0)))
      .toDF("doc_id", "text", "label")
    val withEmpty = (base :+ ((3L, "", 0.0)))
      .toDF("doc_id", "text", "label")
    val mN = Classifier.train(withNull, "doc_id", "text", "label",
      buckets = 16, rounds = 5, lr = 2.0)
    val mE = Classifier.train(withEmpty, "doc_id", "text", "label",
      buckets = 16, rounds = 5, lr = 2.0)
    mN.weights.zip(mE.weights).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12,
        "null text must train exactly like empty text (bias-only)") }
    // the exploded-table path's feature build gives the null doc its
    // bias row too — the two paths see the same vector
    val rows = Classifier
      .hashedFeatures(withNull, "doc_id", "text", 16, 1)
      .filter(col("doc_id") === 3L).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((16L, 1.0)))
  }

  test("HashedBagCountsExpr: non-array child fails at analysis time," +
      " not per row") {
    import org.apache.spark.sql.GraftColumnCompat._
    val d = Seq(Tuple1("not an array")).toDF("s")
    assertThrows[org.apache.spark.sql.AnalysisException] {
      d.select(toColumn(graft.functions.HashedBagCountsExpr(
        toExpression(col("s")), 8, 1))).collect()
    }
  }

  test("flacEncode: < 16 frames yields null (a shorter single-frame" +
      " stream cannot carry spec-consistent STREAMINFO block sizes)") {
    import graft.functions.AudioFunctions
    val d = Seq(
      Tuple1(Seq.fill(15)(100)),   // 15 frames mono: under the floor
      Tuple1(Seq.fill(16)(100)))   // 16 frames: smallest legal stream
    .toDF("pcm")
    val out = d.select(AudioFunctions.flacEncode(col("pcm"), 1)
      .as("f")).collect()
    assert(out(0).isNullAt(0), "15-frame stream must be null")
    assert(!out(1).isNullAt(0), "16-frame stream must encode")
    assertThrows[IllegalArgumentException] {
      graft.functions.FlacCodec.encode(new Array[Int](15), 1, 8000)
    }
  }

  test("gray-plane encoders: per-side limits rejected at analysis" +
      " time (16-bit header fields), never per row") {
    import graft.functions.ImageFunctions
    // 65536 x 1 fits the pixel budget but overflows JPEG's 16-bit SOF
    // width field — must fail BEFORE execution, not corrupt the header
    val d = Seq(Tuple1(Seq.fill(1 << 16)(128))).toDF("pix")
    assertThrows[org.apache.spark.sql.AnalysisException] {
      d.select(ImageFunctions.jpegEncode(col("pix"), 1 << 16, 1))
    }
    assertThrows[IllegalArgumentException] {
      graft.functions.JpegCodec.encodeGray(1 << 16, 1,
        new Array[Byte](1 << 16))
    }
  }
}
