package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CallableContainer, FrameEngine, Identifiers, Shortcuts, TensorHelper}
import graft.streaming.Events

/** Tests for the remaining parity surface: identifier sanitation, the
  * per-column iterable override, shortcuts, the dense-tensor helper, and
  * stateful streaming sessionization.
  */
class ParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("identifier sanitation matches the reference replacement table") {
    assert(Identifiers.replaceCharacters("a#b-c+d@e") ===
      "a_HASH_b_MINUS_c_PLUS_d_AT_e")
    assert(Identifiers.replaceCharacters("x (y) z.w") === "x__OPEN_y_CLOSE__z_DOT_w")
    assert(Identifiers.replaceCharacters("""he"llo'the`re""") === "hellothere")
    assert(Identifiers.sanitizeDatacol("123") === "data_col_123")
    assert(Identifiers.sanitizeIndexcol("42") === "index_col_42")
    // reference strip('') strips NOTHING: edge spaces become underscores
    assert(Identifiers.replaceCharacters(" a") === "_a")
    assert(Identifiers.replaceCharacters("b  ") === "b__")
  }

  test("enforceIdentifierString renames but methods accept originals") {
    val df = Seq((1L, 2.0)).toDF("the key", "the#value")
    val eng = FrameEngine(df, indexcols = Seq("the key"),
      enforceIdentifierString = true)
    assert(eng.indexCols === Seq("the_key"))
    assert(eng.datacols === Seq("the_HASH_value"))
    assert(eng.datacolsRename === Map("the#value" -> "the_HASH_value"))
    // cols_rename: the merged data + index map (`puffbird/frame.py:284-293`)
    assert(eng.indexcolsRename === Map("the key" -> "the_key"))
    assert(eng.colsRename ===
      Map("the#value" -> "the_HASH_value", "the key" -> "the_key"))
    // original names still resolve
    val sel = eng.select("the#value")
    assert(sel.datacols === Seq("the_HASH_value"))
    val applied = eng.colApply(c => c * 2, "the#value")
    assert(applied.df.collect().head.getDouble(1) === 4.0)
  }

  test("toString renders roles without running a job (`frame.py:251-255`)") {
    val eng = FrameEngine(Seq((1L, 2.0)).toDF("k", "v"),
      indexcols = Seq("k"))
    assert(eng.toString === "FrameEngine(indexcols=[k], datacols=[v])")
  }

  test("custom iterable step overrides the schema-driven explosion") {
    val df = Seq((0L, Map("a" -> 1L, "b" -> 2L))).toDF("k", "m")
    // custom step: explode only the map VALUES (discard keys) — something
    // the default dispatch would never do.
    val valuesOnly: FrameEngine.ExplodeStep = (frame, c, lvl, n, _) => {
      val others = frame.columns.filterNot(_ == c).map(col).toSeq
      (frame.select(others :+ posexplode(map_values(col(c))): _*)
        .withColumnRenamed("pos", lvl(n)).withColumnRenamed("col", c), n + 1)
    }
    // a custom step owns its stop condition: bound it with maxDepth (the
    // reference pairs custom `iterable` with `cond`/`max_depth` the same
    // way, `puffbird/frame.py:337-391`)
    val out = FrameEngine(df, Seq("k"))
      .toLong(selCols = Seq("m"), maxDepth = 1,
        iterable = Map("m" -> valuesOnly))
    assert(out.columns.toSet === Set("k", "m_level0", "m"))
    assert(out.select("m").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("CallableContainer dispatches first match in insertion order") {
    // reference `callables.py:36-52`: add() appends, __call__ takes the
    // first registered predicate that matches — earlier registration wins
    val c = new CallableContainer[Int, String]
    c.add(_ > 0, "pos")
    c.add(_ > 10, "big")
    assert(c(5) === "pos")
    assert(c(20) === "pos") // earlier registration wins on overlap
    intercept[graft.core.PuffbirdException] { c(-1) }
  }

  test("puffyToLong shortcut equals ctor + toLong") {
    val df = Seq((0L, Seq(1, 2, 3))).toDF("k", "a")
    val viaShortcut = Shortcuts.puffyToLong(df, indexcols = Seq("k"))
    val direct = FrameEngine(df, Seq("k")).toLong()
    assert(viaShortcut.collect().toSet === direct.collect().toSet)
  }

  test("dense tensor helper reproduces the multid_pivot fixture (F3)") {
    // `tests/test_frameengine.py:30-62` fixture semantics
    val df = Seq(
      ("foo", "one", 10L), ("foo", "one", 30L),
      ("foo", "two", 20L),
      ("bar", "one", 40L), ("bar", "three", 50L)
    ).toDF("A", "B", "D")
    val piv = FrameEngine(df, datacols = Seq("D"))
      .multidPivot(Seq("D"), Seq("A", "B"))
    val t = TensorHelper.toDense(piv, Seq("A", "B"), "D")
    assert(t.coords(0) === Seq("bar", "foo"))
    assert(t.coords(1) === Seq("one", "three", "two"))
    assert(t(Seq(1, 0)) === 20.0) // foo/one → mean(10,30)
    assert(t(Seq(0, 1)) === 50.0) // bar/three
    assert(t(Seq(1, 1)).isNaN)    // foo/three missing
    // integer dims order by value (0, 1, 2, ..., 12, as xarray does), not
    // as text (0, 1, 10, 11, 12, 2); a mean over nulls only is NaN
    val ints = ((0 to 12).map(i => (i, Option(i.toDouble))) ++
      Seq((7, None), (7, None))).filterNot(r => r._1 == 7 && r._2.isDefined)
      .toDF("i", "v")
    val byInt = TensorHelper.toDense(
      FrameEngine(ints, datacols = Seq("v")).multidPivot(Seq("v"), Seq("i")),
      Seq("i"), "v")
    assert(byInt.coords(0) === (0 to 12))
    assert(byInt(Seq(2)) === 2.0)
    assert(byInt(Seq(10)) === 10.0)
    assert(byInt(Seq(7)).isNaN)
  }

  test("streaming stateful sessionize matches the batch sessionizer") {
    val dir = java.nio.file.Files.createTempDirectory("sess").toString
    val ns = 1000L * 1000 * 1000
    val rows = Seq(
      (0L, 1L * ns, 7L, "c", 1.0, "{}"),
      (1L, 2L * ns, 7L, "c", 2.0, "{}"),
      (2L, 4000L * ns, 7L, "c", 3.0, "{}"), // gap > 30 min
      (3L, 5L * ns, 8L, "c", 4.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)

    val q = Events.streamingSessionize(spark, dir, gapMicros = 1800L * 1000 * 1000)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    // Append mode emits only CLOSED sessions (open state stays buffered):
    // user 7's first session closed when the 4000s event arrived.
    val emitted = spark.sql("SELECT user_id, n_events, value_sum FROM sess_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(emitted === Set((7L, 2L, 3.0)))

    // batch equivalent sees all three sessions
    val batch = Events.sessionize(
      spark.read.parquet(dir), gapNanos = 1800L * ns)
    assert(batch.count() === 3L)
  }

  test("Tables.readAll registers the star schema; SQL works over views") {
    val tables = graft.sources.Tables.readAll(spark, "/root/testdata/sf0.001")
    assert(tables.keySet.size === 10)
    val n = spark.sql(
      "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .collect().head.getLong(0)
    assert(n > 0)
  }

  test("saltedJoin equals plain join") {
    val large = Seq.tabulate(100)(i => (i % 3, i)).toDF("k", "v")
    val small = Seq((0, "a"), (1, "b"), (2, "c")).toDF("k", "name")
    val plain = large.join(small, "k")
    val salted = graft.operators.SkewJoin.saltedJoin(large, small, "k", 4)
    assert(salted.count() === plain.count())
    assert(salted.select("k", "v", "name").collect().toSet ===
      plain.select("k", "v", "name").collect().toSet)
  }

  test("jsonStep: per-cell dispatch — array/object/scalar/invalid") {
    val df = Seq(
      (0L, """[10,20]"""),
      (1L, """{"x":1,"y":"s"}"""),
      (2L, "42"),
      (3L, "not json at all")
    ).toDF("k", "v")
    val out = FrameEngine(df, Seq("k"))
      .toLong(selCols = Seq("v"), maxDepth = 1,
        iterable = Map("v" -> graft.core.Explode.jsonStep))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(out === Set(
      (0L, "0", "10"), (0L, "1", "20"),
      (1L, "x", "1"), (1L, "y", "\"s\""),
      (2L, null, "42"),
      (3L, null, "\"not json at all\"")))
  }

  test("jsonStep dropna=false keeps null cells") {
    val df = Seq((0L, Some("""[1]""")), (1L, None)).toDF("k", "v")
    val out = FrameEngine(df, Seq("k"))
      .toLong(selCols = Seq("v"), maxDepth = 1, dropna = false,
        iterable = Map("v" -> graft.core.Explode.jsonStep))
    assert(out.count() === 2L)
  }

  test("SQL registration: custom expressions usable from spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql("""
      SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
             doc_fingerprint(shingles3('a b c d')) AS fp,
             lsh_bucket8(array(1.0D, -1.0D)) AS b,
             geo_mean(x) AS g
      FROM VALUES (2.0), (8.0) AS t(x)
      GROUP BY 1, 2, 3""").collect().head
    assert(r.getAs[Double]("c") === 1.0)
    assert(r.getAs[String]("fp").length === 32)
    assert(r.getAs[Double]("g") === 4.0) // geomean(2, 8)
    val lat = spark.sql("""
      SELECT key, value FROM (SELECT '{"p": 1}' AS j)
      LATERAL VIEW json_explode(j) AS key, value""").collect().head
    assert(lat.getString(0) === "p" && lat.getString(1) === "1")
    // r4 additions: one-pass minhash/simhash/token expressions from SQL
    val r4 = spark.sql("""
      SELECT size(minhash_sigs16(hash60_array(shingles3('a b c d e')))) AS ns,
             size(minhash_buckets(hash60_array(shingles3('a b c d e')))) AS nb,
             simhash16(hash60_array(shingles3('a b c d e'))) AS sh,
             token_stats('hello, world 42').n_re AS nre""").collect().head
    assert(r4.getAs[Int]("ns") === 16 && r4.getAs[Int]("nb") === 8)
    assert(r4.getAs[Long]("sh") >= 0L)
    assert(r4.getAs[Int]("nre") === 4) // "hello" "," "world" "42"
    // r6 additions: image-header decode and multi-probe LSH from SQL
    val r6 = spark.sql("""
      SELECT image_dims(unhex(concat('89504E470D0A1A0A0000000D49484452',
               '00000280000001E0', '0806000000'))) AS d,
             image_dims(cast('not an image' AS BINARY)) AS bad,
             lsh_probes8(array(1.0D, -1.0D)) AS pr""").collect().head
    val dims = r6.getStruct(0)
    assert(dims.getString(0) === "png")
    assert(dims.getInt(1) === 640 && dims.getInt(2) === 480)
    assert(r6.isNullAt(1))
    val probes = r6.getSeq[Long](2)
    assert(probes.length === 3 && probes.distinct.length === 3)
    val r6b = spark.sql("""
      SELECT normalize_text('Café  ÜBER') AS n,
             size(char_shingles3('日本語のテ')) AS cs""")
      .collect().head
    assert(r6b.getString(0) === "cafe  uber")
    assert(r6b.getInt(1) === 3)
    // r8 additions: positional n-grams and audio/video header decode
    val r8 = spark.sql("""
      SELECT ngrams3('a b c d') AS g,
             audio_info(cast('garbage' AS BINARY)) AS a,
             video_info(cast('garbage' AS BINARY)) AS v""").collect().head
    assert(r8.getSeq[String](0) === Seq("a b c", "b c d"))
    assert(r8.isNullAt(1) && r8.isNullAt(2))
    // r9 additions: WebM/EBML decode, perceptual dHash, byte shingles
    val r9 = spark.sql("""
      SELECT webm_info(cast('garbage' AS BINARY)) AS w,
             image_dhash(cast('garbage' AS BINARY)) AS d,
             byte_shingles8(cast('ab' AS BINARY)) AS bs""").collect().head
    assert(r9.isNullAt(0) && r9.isNullAt(1))
    assert(r9.getSeq[String](2) === Seq("6162"))
    // r11 additions: fused payload hashing, winnowing, repetition
    // stats, positional gram hashes, fixture-vocab BPE count/ids
    val r11 = spark.sql("""
      SELECT size(byte_shingle_hashes8(cast('abcdefghij' AS BINARY))) AS bh,
             size(winnow7_4('the quick brown fox jumps over it')) AS wf,
             repetition_stats('a a a a a a a a').dup_line_frac AS rl,
             size(word_gram_hash60_12(split('one two', ' '))) AS wg,
             bpe_count_fixture('abc abc') AS bc,
             bpe_ids_fixture('abc') AS bi""").collect().head
    assert(r11.getAs[Int]("bh") === 3)   // 10 bytes, 8-gram windows
    assert(r11.getAs[Int]("wf") >= 1)
    assert(r11.getAs[Double]("rl") === 0.0) // one line, no dup lines
    assert(r11.getAs[Int]("wg") === 0)   // < 12 words -> empty
    assert(r11.getAs[Long]("bc") === 3L)
    assert(r11.getSeq[Int](5) === Seq(257))
    // r13 additions: removal-grade 128-bit gram hashes + the
    // token-space substring rewrite
    val r13 = spark.sql("""
      SELECT size(word_gram_hash128_12(split('one two', ' '))) AS wg,
             size(int_gram_hash128_40(bpe_ids_fixture('abc'))) AS ig,
             bpe_token_remove_fixture40(bpe_ids_fixture('abcx'),
               CAST(NULL AS ARRAY<INT>)) AS tr""").collect().head
    assert(r13.getAs[Int]("wg") === 0)   // < 12 words -> empty
    assert(r13.getAs[Int]("ig") === 0)   // < 40 tokens -> empty
    val tr = r13.getStruct(2)
    assert(tr.getString(0) === "abcx" && tr.getLong(1) === 2L &&
      tr.getLong(2) === 0L)              // null starts -> all kept
    // r14 additions: the round's scorers as fixture forms — bag score
    // (uni + bigram) and the NB langid map
    val r14 = spark.sql("""
      SELECT hashed_bag_score_fixture(array()) AS empty,
             hashed_bag_score_fixture(split('one two three', ' ')) AS uni,
             hashed_bag_score_fixture_bi(split('one two three', ' ')) AS bi,
             langid_nb_score_fixture(
               char_shingles3(lower('the theme thing'))) AS en,
             langid_nb_score_fixture(
               char_shingles3(lower('los osos de el parque'))) AS es""")
      .collect().head
    // empty bag scores sigmoid(bias) = sigmoid(-0.5) exactly
    assert(math.abs(r14.getAs[Double]("empty")
      - 1.0 / (1.0 + math.exp(0.5))) < 1e-12)
    // the bigram form folds 2 extra features into the mean — same
    // buckets, different denominator, so the two must differ here
    assert(r14.getAs[Double]("uni") !== r14.getAs[Double]("bi"))
    val enM = r14.getMap[String, Double](3)
    val esM = r14.getMap[String, Double](4)
    assert(enM.keys.toSeq.sorted === Seq("en", "es"))
    assert(enM("en") > enM("es"))  // English-ish grams prefer en
    assert(esM("es") > esM("en"))  // Spanish-ish grams prefer es
    // html_extract_text: the registered form IS the Scala chain (one
    // definition converted through the Column bridge)
    val rHtml = spark.sql("""
      SELECT html_extract_text(
        '<p>a &amp; b</p><script>var x;</script><br>c') AS t""")
      .collect().head.getString(0)
    assert(rHtml === "a & b\nc")
  }

  test("SQL surface: group_topk UDAF, as-of and range join recipes" +
      " match their operator outputs") {
    graft.functions.GraftFunctions.register(spark)
    // group top-k: UDAF + posexplode == TopK.topKPerKey
    Seq((1L, 10L, 5.0), (1L, 11L, 7.0), (1L, 12L, 7.0), (1L, 13L, 1.0),
        (1L, 14L, 9.0), (2L, 20L, 3.0))
      .toDF("k", "id", "score").createOrReplaceTempView("gt_in")
    val gt = spark.sql("""
      SELECT k, it.id AS id, it.ord AS score, CAST(pos + 1 AS INT) AS rk
      FROM (SELECT k, group_topk3(CAST(score AS DOUBLE),
                                  CAST(id AS BIGINT)) AS tk
            FROM gt_in GROUP BY k)
      LATERAL VIEW posexplode(tk.items) AS pos, it""")
    val gtRef = graft.operators.TopK.topKPerKey(
      spark.table("gt_in"), Seq("k"), "score", "id", 3)
    assert(gt.collect().map(_.toSeq).toSet ===
      gtRef.collect().map(_.toSeq).toSet)
    // as-of join: tag/union/window SQL recipe == AsofJoin.asofJoin
    Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 4L, "c"), (2L, 9L, "d"))
      .toDF("key", "ts", "lv").createOrReplaceTempView("asof_l")
    Seq((1L, 5L, 1.0), (1L, 15L, 2.0), (2L, 30L, 3.0))
      .toDF("key", "ts", "rv").createOrReplaceTempView("asof_r")
    val sqlAsof = spark.sql("""
      WITH u AS (
        SELECT key, ts, 1 AS src,
               named_struct('ts', ts, 'lv', lv) AS lp,
               CAST(NULL AS DOUBLE) AS rv FROM asof_l
        UNION ALL
        SELECT key, ts, 0 AS src, NULL, rv FROM asof_r),
      m AS (SELECT *, last(rv, true) OVER (PARTITION BY key
              ORDER BY ts, src ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS rm FROM u)
      SELECT key, lp.ts AS ts, lp.lv AS lv, rm AS rv
      FROM m WHERE lp IS NOT NULL""")
    val asofRef = graft.operators.AsofJoin.asofJoin(
      spark.table("asof_l"), spark.table("asof_r"),
      Seq("key"), "ts", "ts")
    assert(sqlAsof.collect().map(_.toSeq).toSet ===
      asofRef.collect().map(_.toSeq).toSet)
    // range join: bin-bucketized SQL recipe == RangeJoin.rangeJoin
    Seq((1L, 7.0), (2L, 15.0), (3L, 42.0))
      .toDF("id", "v").createOrReplaceTempView("rj_l")
    Seq((0.0, 10.0, "lo"), (5.0, 20.0, "mid"), (40.0, 50.0, "hi"))
      .toDF("lo", "hi", "tag").createOrReplaceTempView("rj_r")
    val sqlRange = spark.sql("""
      WITH lb AS (SELECT *, CAST(floor(v / 10.0) AS BIGINT) AS bin
                  FROM rj_l),
      rb AS (SELECT r.*, b AS bin FROM rj_r r
             LATERAL VIEW explode(sequence(
               CAST(floor(lo / 10.0) AS BIGINT),
               CAST(floor(hi / 10.0) AS BIGINT))) AS b)
      SELECT id, v, lo, hi, tag FROM lb JOIN rb USING (bin)
      WHERE v >= lo AND v <= hi""")
    val rangeRef = graft.operators.RangeJoin.rangeJoin(
      spark.table("rj_l"), spark.table("rj_r"),
      "v", "lo", "hi", binWidth = 10.0)
      .select("id", "v", "lo", "hi", "tag")
    assert(sqlRange.collect().map(_.toSeq).toSet ===
      rangeRef.collect().map(_.toSeq).toSet)
  }

  test("GeoMean aggregator: partial/merge semantics") {
    import graft.functions.GeoMean
    val m = GeoMean.merge(
      GeoMean.reduce(GeoMean.zero, 2.0), GeoMean.reduce(GeoMean.zero, 8.0))
    assert(math.abs(GeoMean.finish(m) - 4.0) < 1e-12)
    assert(GeoMean.finish(GeoMean.zero).isNaN)
  }

  test("Tables.readAs/writePartitioned round-trip csv and json") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("fmt").toString
    val df = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02"))
      .toDF("id", "v", "day")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("day", StringType)))
    for (fmt <- Seq("csv", "json")) {
      graft.sources.Tables.writePartitioned(df, s"$dir/$fmt", fmt, Seq("day"))
      val back = graft.sources.Tables.readAs(spark, s"$dir/$fmt", fmt,
        Some(schema), if (fmt == "csv") Map("header" -> "false") else Map.empty)
      assert(back.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
        === Set((1L, "a"), (2L, "b")), fmt)
    }
  }

  test("dropNearDuplicates / dropDuplicatesExact") {
    val d = Seq((0L, "x y z"), (1L, "x y z"), (2L, "other text here"))
      .toDF("doc_id", "text")
    val exactKept = graft.operators.Dedup.dropDuplicatesExact(d, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(exactKept === Set(0L, 2L))
    val pairs = Seq((0L, 1L)).toDF("id_a", "id_b")
    val nearKept = graft.operators.Dedup.dropNearDuplicates(d, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(nearKept === Set(0L, 2L))
  }

  test("cond stops explosion early per column; per-column option maps") {
    import org.apache.spark.sql.types._
    // 2-level array, cond says stop once the element is a plain array
    val df = Seq((0L, Seq(Seq(1L, 2L), Seq(3L)), Seq(9L)))
      .toDF("k", "deep", "flat")
    val out = FrameEngine(df, Seq("k")).toLong(
      selCols = Seq("deep", "flat"),
      cond = Map("deep" -> (dt => dt match {
        case ArrayType(_: ArrayType, _) => false // keep going on 2-D
        case _ => true                           // stop at 1-D cells
      })))
    // deep exploded once (cells remain array<long>), flat fully exploded
    assert(out.schema("deep").dataType.typeName === "array")
    assert(out.columns.toSet ===
      Set("k", "deep_level0", "deep", "flat_level0", "flat"))

    // per-column maxDepth map
    val out2 = FrameEngine(df, Seq("k")).toLong(
      selCols = Seq("deep", "flat"), maxDepthPer = Map("deep" -> 1))
    assert(out2.schema("deep").dataType.typeName === "array")
    assert(out2.schema("flat").dataType === LongType)

    // per-column dropna map
    val df2 = Seq((0L, Some(Seq(1L)), Option.empty[Seq[Long]]),
      (1L, None, Some(Seq(2L)))).toDF("k", "p", "q")
    val out3 = FrameEngine(df2, Seq("k")).toLong(
      dropnaPer = Map("p" -> true, "q" -> false))
    // p: null row dropped (1 row); q: null kept (2 rows); outer merge
    assert(out3.count() === 2L)
  }
}
