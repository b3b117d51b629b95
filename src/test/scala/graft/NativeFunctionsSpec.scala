package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GraftFunctions, PolyHash, Shingles}

/** Native Catalyst expressions (graft.functions.Native): SQL registration
  * via GraftExtensions (SparkTestBase's session sets
  * spark.sql.extensions=graft.functions.GraftExtensions), kernel equivalence, null
  * propagation, and a CODEGEN_ONLY pass proving every doGenCode actually
  * compiles (no silent interpreter fallback).
  */
class NativeFunctionsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def bytes(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  test("SQL surface: extension-registered functions match the Scala kernels") {
    val row = spark.sql(
      """SELECT
        |  graft_lcp(encode('abcdef', 'UTF-8'), encode('abcxyz', 'UTF-8')) AS l,
        |  graft_polyhash61(encode('hello world', 'UTF-8'), 257) AS ph,
        |  graft_simhash64(encode('the quick brown fox', 'UTF-8'), 4) AS sh,
        |  graft_minhash(encode('the quick brown fox', 'UTF-8'), 4, 8) AS mh
        |""".stripMargin).collect()(0)
    assert(row.getLong(0) == 3L)
    val b = bytes("hello world")
    assert(row.getLong(1) == PolyHash.hash(b, 0, b.length, 257L))
    val q = bytes("the quick brown fox")
    assert(row.getLong(2) == Shingles.simhash64(Shingles.allHashes(q, 4)))
    assert(row.getSeq[Long](3) ==
      Shingles.minhashSignature(Shingles.distinctHashes(q, 4), Shingles.seeds(8)).toSeq)
  }

  test("null propagation: null-intolerant expressions yield null, never throw") {
    val row = spark.sql(
      """SELECT
        |  graft_lcp(CAST(NULL AS BINARY), encode('x', 'UTF-8')) AS l,
        |  graft_polyhash61(CAST(NULL AS BINARY), 257) AS ph,
        |  graft_simhash64(CAST(NULL AS BINARY), 4) AS sh,
        |  graft_minhash(CAST(NULL AS BINARY), 4, 8) AS mh
        |""".stripMargin).collect()(0)
    (0 until 4).foreach(i => assert(row.isNullAt(i), s"col $i"))
  }

  test("CODEGEN_ONLY: every native expression compiles (no interpreter fallback)") {
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = Seq(("abcdef", "abcxyz"), ("same", "same")).toDF("a", "b")
        .select(
          GraftFunctions.lcp(encode(col("a"), "UTF-8"), encode(col("b"), "UTF-8")).as("l"),
          GraftFunctions.polyhash61(encode(col("a"), "UTF-8"), 257L).as("ph"),
          GraftFunctions.simhash64(encode(col("a"), "UTF-8"), 3).as("sh"),
          GraftFunctions.minhash(encode(col("a"), "UTF-8"), 3, 4).as("mh"))
      val rows = df.collect()
      assert(rows(0).getLong(0) == 3L && rows(1).getLong(0) == 4L)
      val a = bytes("abcdef")
      assert(rows(0).getLong(1) == PolyHash.hash(a, 0, a.length, 257L))
      assert(rows(0).getLong(2) == Shingles.simhash64(Shingles.allHashes(a, 3)))
      assert(rows(0).getSeq[Long](3) ==
        Shingles.minhashSignature(Shingles.distinctHashes(a, 3), Shingles.seeds(4)).toSeq)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("edge kernels: empty inputs, short docs, equal arrays") {
    assert(graft.functions.NativeKernels.lcp(Array.emptyByteArray, bytes("x")) == 0L)
    assert(graft.functions.NativeKernels.lcp(bytes("abc"), bytes("abc")) == 3L)
    // doc shorter than n: simhash of zero shingles = 0, minhash = sentinels
    val row = spark.sql(
      """SELECT graft_simhash64(encode('ab', 'UTF-8'), 4) AS sh,
        |       graft_minhash(encode('ab', 'UTF-8'), 4, 3) AS mh""".stripMargin)
      .collect()(0)
    assert(row.getLong(0) == 0L)
    assert(row.getSeq[Long](1) == Seq.fill(3)(Long.MaxValue))
  }

  test("graft_winnow: SQL output matches the kernel; guarantee holds") {
    val t = "the winnowing guarantee says shared runs share a fingerprint"
    val got = spark.sql(
      s"SELECT graft_winnow(encode('$t', 'UTF-8'), 8, 4) AS fp")
      .collect()(0).getSeq[Long](0).toSet
    val want = {
      val arr = graft.functions.NativeKernels.winnow(bytes(t), 8, 4)
      (0 until arr.numElements()).map(arr.getLong).toSet
    }
    assert(got == want && got.nonEmpty)
    // at least one fingerprint per w positions
    assert(got.size * 4 >= bytes(t).length - 8 + 1 - 3)
  }

  test("anchor kernel: anchors lie inside their window, equal windows pick equal offsets") {
    import graft.functions.NativeKernels
    val r = new scala.util.Random(17)
    def rnd(n: Int, alphabet: String) =
      (0 until n).map(_ => alphabet(r.nextInt(alphabet.length))).mkString
    // random, periodic (all-equal grams: every window ties) and multi-byte
    // UTF-8 inputs, with an internal copy so equal windows occur
    val texts = Seq.tabulate(4)(i => rnd(30 + 40 * i, "abcd")) ++ Seq(
      "a" * 150, "ab" * 90, "abc" * 61, "日本語のテキストですね" * 6,
      { val t = rnd(70, "aé日😊 "); t + "x" + t })
    // (minLen, gram): w = minLen - gram + 1 grams per full window
    for ((minLen, gram) <- Seq((8, 4), (33, 16), (40, 20), (64, 32), (40, 1), (40, 40), (500, 250));
         text <- texts :+ rnd(1200, "ab")) {
      val b = bytes(text)
      val w = minLen - gram + 1
      val (g1, g2) = PolyHash.windowHashes2(b, gram)
      val sel = NativeKernels.windowAnchors(g1, w)
      val at = s"minLen=$minLen gram=$gram len=${b.length}"
      assert(sel.length == math.max(0, b.length - minLen + 1), at)
      sel.indices.foreach { s =>
        // the anchor gram lies inside the window, at its rightmost minimum
        assert(sel(s) >= s && sel(s) + gram <= s + minLen, s"$at s=$s")
        val lo = (s until s + w).map(g1).min
        assert(sel(s) == (s until s + w).filter(g1(_) == lo).max, s"$at s=$s")
      }
      sel.indices.groupBy(s => b.slice(s, s + minLen).toSeq).values.foreach { ss =>
        assert(ss.map(s => sel(s) - s).distinct.size == 1, s"$at equal windows")
      }
      // the generator emits each selected gram once, keyed by its hashes
      val got = Seq(Tuple1(b)).toDF("b")
        .select(GraftFunctions.anchorGen(col("b"), minLen, gram, reversed = false)
          .as(Seq("h1", "h2", "pos")))
        .as[(Long, Long, Long)].collect().toSeq
      assert(got == sel.distinct.sorted.toSeq.map(p => (g1(p), g2(p), p.toLong)), at)
    }
    // token and id streams run the same selection over their digits
    val ids = Seq.fill(90)(r.nextInt(3).toLong)
    val (d1, _) = PolyHash.windowHashesLongs2(ids.toArray, 10)
    val viaIds = Seq(Tuple1(ids)).toDF("ids")
      .select(GraftFunctions.anchorGen(col("ids"), 40, 10, reversed = false)
        .as(Seq("h1", "h2", "pos")))
      .select("pos").as[Long].collect().toSeq
    assert(viaIds == NativeKernels.windowAnchors(d1, 31).distinct.sorted.toSeq.map(_.toLong))
    val words = ids.map(i => s"w$i")
    val viaTokens = Seq(Tuple1(words)).toDF("ts")
      .select(GraftFunctions.anchorGen(col("ts"), 40, 10, reversed = true)
        .as(Seq("h1", "h2", "pos")))
    assert(viaTokens.count() > 0)
    // windows near anchors: the union of [a - span, a] clipped to [0, last]
    for (_ <- 0 until 50) {
      val last = r.nextInt(60)
      val span = r.nextInt(10)
      val anchors = Array.fill(r.nextInt(6))(r.nextInt(last + span + 1).toLong)
      val want = anchors.toSeq.flatMap(a => (a - span) to a)
        .filter(s => s >= 0 && s <= last).distinct.sorted.map(_.toInt)
      assert(NativeKernels.nearStarts(anchors, span, last).toSeq == want)
    }
  }

  test("anchor kernel: short, null and null-element inputs") {
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString(" | ")
    val rows = Seq((1L, Option(bytes("x" * 39))), (2L, None)).toDF("k", "b")
    // shorter than minLen, or null: no anchors and no windows near anchors
    assert(rows.select(GraftFunctions.anchorGen(col("b"), 40, 20, reversed = false)
      .as(Seq("h1", "h2", "pos"))).count() == 0)
    assert(rows.withColumn("a", array(lit(0L), lit(19L)))
      .select(GraftFunctions.windowsNear(col("b"), col("a"), 40, 20, reversed = false)
        .as(Seq("h1", "h2", "pos"))).count() == 0)
    // a null id or token element still throws, in both anchor forms
    val ids = Seq((1L, Seq(Some(1L), None) ++ Seq.fill(50)(Some(2L)))).toDF("k", "ids")
    val e1 = intercept[Exception](ids.select(GraftFunctions.anchorGen(col("ids"), 40, 20,
      reversed = false).as(Seq("h1", "h2", "pos"))).collect())
    assert(messages(e1).contains("null element"), messages(e1))
    val e2 = intercept[Exception](ids.withColumn("a", array(lit(30L)))
      .select(GraftFunctions.windowsNear(col("ids"), col("a"), 40, 20, reversed = true)
        .as(Seq("h1", "h2", "pos"))).collect())
    assert(messages(e2).contains("null element"), messages(e2))
    val toks = Seq((1L, Seq("a", null, "b"))).toDF("k", "ts")
    val e3 = intercept[Exception](toks.select(GraftFunctions.anchorGen(col("ts"), 40, 20,
      reversed = false).as(Seq("h1", "h2", "pos"))).collect())
    assert(messages(e3).contains("null element"), messages(e3))
  }

  test("registerUdfs: writeback UDFs reachable from SQL") {
    GraftFunctions.registerUdfs(spark)
    val out = spark.sql(
      """SELECT graft_remove_mode(encode('hello cruel world', 'UTF-8'),
        |  graft_clip_ranges(encode('hello cruel world', 'UTF-8'),
        |    array(named_struct('s', 5L, 'e', 11L)))) AS t""".stripMargin)
      .collect()(0).getString(0)
    assert(out == "hello world")
  }
}
