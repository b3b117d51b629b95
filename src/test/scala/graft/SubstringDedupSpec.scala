package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.operators.SubstringDedup
import graft.functions.Utf8

/** Differential tests: the one sort-scan spine, for every unit and
  * verification path, against a brute-force reimplementation of the
  * reference naive mode (cpp_engine_dedup.h:215-302) on small random
  * corpora -- the same
  * correctness strategy the reference itself uses (naive vs parallel vs
  * parallel_sharded, workflow_toy.sh:16-33).
  */
class SubstringDedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Brute-force oracle (shared with the end-to-end JSONL differential). */
  def bruteRanges(docs: Seq[(Long, String)], minLen: Int): Set[(Long, Long, Long)] =
    DedupTestOracle.bruteRanges(docs, minLen)

  def randomDocs(seed: Int, n: Int, alphabet: String): Seq[(Long, String)] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      val len = r.nextInt(80)
      (i.toLong, (0 until len).map(_ => alphabet(r.nextInt(alphabet.length))).mkString)
    }
  }

  def spark_(docs: Seq[(Long, String)]) = docs.toDF("k", "text")

  test("byte unit (inline and join verification, prune on/off, verify off) and dup ptrs match brute force") {
    for (seed <- Seq(1, 2, 3)) {
      val dense = randomDocs(seed, 25, "abc") // tiny alphabet -> dense dup structure
      // verbatim copies and a doubled doc plant duplicate windows past the
      // 32-byte inline-verification limit: minLen 40 runs the join
      // verification, with and without the corpus prune
      val planted = dense ++ dense.take(6).map { case (k, t) => (k + 100L, t) } :+
        ((200L, dense.head._2 * 2))
      for ((docs, minLen) <- Seq((dense, 6), (planted, 40))) {
        val expected = bruteRanges(docs, minLen)
        assert(expected.nonEmpty, s"minLen=$minLen seed=$seed plants no duplicate")
        val df = spark_(docs)
        def ranges(d: DataFrame) = d.as[(Long, Long, Long)].collect().toSet
        val at = s"minLen=$minLen seed=$seed"
        assert(ranges(SubstringDedup.removeRanges(df, SubstringDedup.Config(minLen))) == expected,
          s"default $at")
        // verification off: the bare sort-scan a2 runs
        assert(ranges(SubstringDedup.removeRanges(df,
          SubstringDedup.Config(minLen, verifyBytes = false))) == expected, s"no-verify $at")
        assert(ranges(SubstringDedup.removeRanges(df,
          SubstringDedup.Config(minLen, verifyPrune = true))) == expected, s"prune $at")
        // dup pointers: the dropped ones are exactly the removable
        // positions, and the prune changes neither pointers nor slices
        def ptrs(prune: Boolean) = SubstringDedup.dupPtrs(df,
          SubstringDedup.Config(minLen, verifyPrune = prune))
        assert(ranges(SubstringDedup.coalesceRanges(
          ptrs(false).where($"dropped").select("k", "pos"), minLen)) == expected, s"dupPtrs $at")
        assert(ptrs(true).as[(Long, Long, Boolean)].collect().toSet ==
          ptrs(false).as[(Long, Long, Boolean)].collect().toSet, s"dupPtrs prune $at")
        def slices(prune: Boolean) = SubstringDedup.dupDocSlices(df,
          SubstringDedup.Config(minLen, verifyPrune = prune)).as[(Long, Long, Boolean, String)].collect().toSet
        assert(slices(true) == slices(false), s"dupDocSlices prune $at")
      }
    }
  }

  /** Corpus for the anchored (minLen > 32) differentials: random docs
    * over a 2- or 4-letter alphabet around minLen long, plus planted
    * copies (mid-doc, at a doc's start and at its end, some planted at a
    * smaller key than their source), identical docs, periodic docs, docs
    * of exactly minLen and minLen - 1 bytes, null and empty text and
    * multi-byte UTF-8 with a copy.
    */
  def anchoredDocs(seed: Int, minLen: Int): Seq[(Long, String)] = {
    val r = new scala.util.Random(seed * 1000 + minLen)
    def rnd(n: Int, alphabet: String) =
      (0 until n).map(_ => alphabet(r.nextInt(alphabet.length))).mkString
    val base = (0 until 8).map { i =>
      val len = if (i == 0) minLen + 40 + r.nextInt(minLen) else r.nextInt(2 * minLen + 40)
      (100L + i, rnd(len, if (i % 2 == 0) "ab" else "abcd"))
    }
    val long = base.map(_._2).filter(_.length >= minLen + 10)
    def span(len: Int) = {
      val t = long(r.nextInt(long.size)); val at = r.nextInt(t.length - len + 1)
      t.substring(at, at + len)
    }
    val uni = rnd(minLen + 20, "a日é😊b ")
    base ++ Seq(
      (50L, rnd(20, "cd") + span(minLen + 10) + rnd(30, "cd")), // copy before its source
      (200L, rnd(15, "cd") + span(minLen + 3) + rnd(15, "cd")),
      (201L, span(minLen) + rnd(minLen / 2, "cd") + span(minLen + 1)), // at start and end
      (202L, span(minLen)), // exactly minLen, all duplicate
      (203L, span(minLen - 1)), // one byte short of a window
      (204L, "ab" * minLen), (205L, "a" * (minLen + 7)), (206L, "ab" * (minLen + 1)),
      (207L, null), (208L, ""),
      (209L, s"x$uni"), (210L, s"$uni y $uni")) ++
      (300L to 302L).map(k => (k, base(1)._2 + "z" * 3)) // identical docs
  }

  test("anchored candidates (minLen > 32): byte unit, prune off and on, match brute force") {
    for (seed <- 1 to 5; minLen <- Seq(33, 40, 64, 128, 500, 1000)) {
      val docs = anchoredDocs(seed, minLen)
      val expected = bruteRanges(docs.filter(_._2 != null), minLen)
      assert(expected.nonEmpty, s"minLen=$minLen seed=$seed plants no duplicate")
      val df = spark_(docs)
      for (prune <- Seq(false, true)) {
        val got = SubstringDedup.removeRanges(df,
          SubstringDedup.Config(minLen, verifyPrune = prune)).as[(Long, Long, Long)].collect()
        assert(got.length == got.distinct.length && got.toSet == expected,
          s"minLen=$minLen seed=$seed prune=$prune")
      }
    }
  }

  /** Token-mode brute oracle: first-occurrence keep over minLenTok-token
    * windows of the (optionally reversed) whitespace token stream,
    * interval union in token offsets.
    */
  private def bruteTokenRanges(docs: Seq[(Long, String)], minLenTok: Int,
                               reversed: Boolean): Set[(Long, Long, Long)] = {
    val toks = docs.map { case (k, t) =>
      val ws = t.split(' ').filter(_.nonEmpty)
      (k, if (reversed) ws.reverse else ws)
    }
    val seen = scala.collection.mutable.Set.empty[Seq[String]]
    val removable = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    for ((k, ws) <- toks.sortBy(_._1); pos <- 0 to ws.length - minLenTok) {
      val w = ws.slice(pos, pos + minLenTok).toSeq
      if (seen(w)) removable += ((k, pos)) else seen += w
    }
    removable.groupBy(_._1).flatMap { case (k, ps) =>
      val sorted = ps.map(_._2).sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var s = sorted.head; var e = sorted.head + minLenTok
      for (p <- sorted.tail) {
        if (p <= e) e = p + minLenTok
        else { out += ((k, s.toLong, e.toLong)); s = p; e = p + minLenTok }
      }
      out += ((k, s.toLong, e.toLong))
      out
    }.toSet
  }

  test("token-unit dedup (C2): forward and reversed match brute force") {
    val words = "aa bb cc dd ee".split(" ")
    val r = new scala.util.Random(5)
    val docs = (0 until 30).map { i =>
      (i.toLong, (0 until r.nextInt(30)).map(_ => words(r.nextInt(words.length))).mkString(" "))
    }
    val df = spark_(docs)
    for (rev <- Seq(false, true);
         (verify, prune) <- Seq((true, false), (false, false), (true, true))) {
      val got = SubstringDedup.removeRangesTokens(df, 4, verify = verify, reversed = rev,
          verifyPrune = prune)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == bruteTokenRanges(docs, 4, rev), s"reversed=$rev verify=$verify prune=$prune")
    }
  }

  test("ids-unit dedup (C2 production shape): matches token-unit under an injective vocab") {
    // same corpus as the token test, pre-tokenized through an injective
    // vocab (word -> index): the ids-mode result must equal the
    // token-mode result position for position, forward and reversed
    val words = "aa bb cc dd ee".split(" ")
    val vocab = words.zipWithIndex.toMap
    val r = new scala.util.Random(5)
    val docs = (0 until 30).map { i =>
      (i.toLong, (0 until r.nextInt(30)).map(_ => words(r.nextInt(words.length))).mkString(" "))
    }
    val textDf = spark_(docs)
    val idsDf = docs.map { case (k, t) =>
      (k, t.split(' ').filter(_.nonEmpty).map(w => vocab(w).toLong))
    }.toDF("k", "tokens")
    for (rev <- Seq(false, true);
         (verify, prune) <- Seq((true, false), (false, false), (true, true))) {
      val viaTokens = SubstringDedup.removeRangesTokens(textDf, 4, verify = verify, reversed = rev)
        .as[(Long, Long, Long)].collect().toSet
      val viaIds = SubstringDedup.removeRangesIds(idsDf, 4, verify = verify, reversed = rev,
          verifyPrune = prune)
        .as[(Long, Long, Long)].collect().toSet
      assert(viaIds == viaTokens, s"reversed=$rev verify=$verify prune=$prune")
    }
    // ids ARE the content: two docs with different provenance but equal
    // id runs dedup against each other (second occurrence removed)
    val run = Array.tabulate(6)(i => (100 + i).toLong)
    val planted = Seq(
      (1L, run ++ Array(7L, 8L)),
      (2L, Array(9L) ++ run)).toDF("k", "tokens")
    val got = SubstringDedup.removeRangesIds(planted, 6)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((2L, 1L, 7L)))
  }

  test("anchored candidates (minLen 40): tokens and ids, forward and reversed, match brute force") {
    val words = "aa bb cc dd ee ff".split(" ")
    val vocab = words.zipWithIndex.toMap
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(seed)
      val base = (0 until 12).map { i =>
        val n = if (i == 0) 60 + r.nextInt(60) else r.nextInt(120)
        (i.toLong, (0 until n).map(_ => words(r.nextInt(3 + i % 4))).mkString(" "))
      }
      val toks = base.map(_._2.split(' ').filter(_.nonEmpty)).filter(_.length >= 50)
      def span(len: Int) = {
        val t = toks(r.nextInt(toks.size)); val at = r.nextInt(t.length - len + 1)
        t.slice(at, at + len).mkString(" ")
      }
      val docs = base ++ Seq(
        (20L, s"ff ${span(45)} ee"), (21L, s"${span(40)} ff ff ${span(41)}"),
        (22L, span(40)), (23L, span(39)), (24L, ""), (25L, Seq.fill(90)("aa").mkString(" ")))
      val textDf = spark_(docs)
      val idsDf = docs.map { case (k, t) =>
        (k, t.split(' ').filter(_.nonEmpty).map(w => vocab(w).toLong))
      }.toDF("k", "tokens")
      for (rev <- Seq(false, true); prune <- Seq(false, true)) {
        val expected = bruteTokenRanges(docs, 40, rev)
        val at = s"seed=$seed reversed=$rev prune=$prune"
        assert(expected.nonEmpty, at)
        assert(SubstringDedup.removeRangesTokens(textDf, 40, reversed = rev, verifyPrune = prune)
          .as[(Long, Long, Long)].collect().toSet == expected, s"tokens $at")
        assert(SubstringDedup.removeRangesIds(idsDf, 40, reversed = rev, verifyPrune = prune)
          .as[(Long, Long, Long)].collect().toSet == expected, s"ids $at")
      }
    }
  }

  test("anchored candidates need deterministic docs: a rand()-derived corpus fails loudly") {
    val df = spark.range(30).select(col("id").as("k"),
      expr("repeat(cast(floor(rand() * 3) as string), 60)").as("text"))
    for (run <- Seq[DataFrame => Any](
        SubstringDedup.removeRanges(_, SubstringDedup.Config(40)),
        SubstringDedup.removeRangesTokens(_, 40),
        SubstringDedup.dupPtrs(_, SubstringDedup.Config(64)))) {
      val e = intercept[IllegalArgumentException](run(df))
      assert(e.getMessage.contains("deterministic-input contract"), e.getMessage)
    }
    // at minLen <= 32 the plans are unchanged and raise nothing
    SubstringDedup.removeRanges(df, SubstringDedup.Config(32))
  }

  test("A7 slices + B10 render: dropped spans carry the actual window text and paint red") {
    val dup = "0123456789abcdefghij" // 20 bytes, minLen 10
    val docs = Seq((1L, s"$dup and a tail unique to doc one"),
                   (2L, s"prefix two $dup suffix <two>"))
    val df = spark_(docs)
    val slices = SubstringDedup.dupDocSlices(df, SubstringDedup.Config(10))
      .as[(Long, Long, Boolean, String)].collect()
    // every dropped slice in doc 2 must be an actual substring of doc 2
    val dropped = slices.filter(s => s._1 == 2L && s._3)
    assert(dropped.nonEmpty)
    dropped.foreach { case (_, pos, _, snip) =>
      assert(docs(1)._2.substring(pos.toInt, pos.toInt + 10) == snip)
    }
    // doc 1 holds the kept (first-occurrence) copies
    assert(slices.filter(s => s._1 == 1L).forall(!_._3))

    val ann = SubstringDedup.annotate(df, SubstringDedup.Config(10))
    val ansi = Render.annotated(ann)
    assert(ansi.contains("\u001b[31m")) // a red (removed) span exists
    assert(ansi.contains(dup)) // the duplicated run is painted
    val html = Render.annotated(ann, html = true)
    assert(html.contains("""<span class="dropped">"""))
    assert(html.contains("&lt;two&gt;")) // escaping
  }

  test("B10 render: multi-byte text slices at clipped boundaries without mojibake") {
    val dup = "日本語のテキストですね全部で" // 14 chars x 3 bytes = 42 bytes
    val docs = Seq((1L, s"first $dup copy"), (2L, s"zwei $dup copy two")).toDF("k", "text")
    val ann = SubstringDedup.annotate(docs, SubstringDedup.Config(12))
    val ansi = Render.annotated(ann)
    // rendered segments re-decode cleanly: no replacement characters
    assert(!ansi.contains("�"))
    assert(ansi.contains("\u001b[31m")) // something was painted red
    val html = Render.annotated(ann, html = true)
    assert(!html.contains("�") && html.contains("""<span class="dropped">"""))
  }

  test("suffix index: one build answers every minLen up to its depth == per-minLen path and brute force") {
    // docs long enough for minLen 32 windows, with planted verbatim
    // copies (cross-doc dups) and a repeated intra-doc run
    val r = new scala.util.Random(11)
    val base = (0 until 12).map { i =>
      (i.toLong, (0 until (70 + r.nextInt(60))).map(_ => "abcd"(r.nextInt(4))).mkString)
    }
    val r7 = new scala.util.Random(7)
    val base7 = (0 until 10).map { i =>
      (400L + i, (0 until (60 + r7.nextInt(40))).map(_ => "abcd"(r7.nextInt(4))).mkString)
    }
    // edge docs: longest repeat far below maxDepth, null and empty text,
    // a doc shorter than every minLen, multi-byte UTF-8, identical docs
    val jp = "日本語のテキストですね" // 11 chars x 3 bytes
    val docs = base ++ base.take(4).map { case (k, t) => (k + 100L, t) } ++
      Seq((200L, base.head._2.take(70) * 2)) ++ // intra-doc repeat of a 70-byte run
      base7 ++ base7.take(3).map { case (k, t) => (k + 100L, t) } ++ Seq(
      (301L, "the quick brown fox jumps over the lazy dog"),
      (302L, "pack my box with five dozen liquor jugs"),
      (303L, "sphinx of black quartz judge my vow"),
      (304L, null), (305L, ""), (306L, "short"),
      (307L, s"eins $jp zwei"), (308L, s"$jp drei $jp")) ++
      (310L to 312L).map(k => (k, "q" * 50))
    val df = spark_(docs)
    // minLen 8 and 16 run the segment scan, 32 (= maxDepth) the lcp filter
    val index = operators.SuffixIndex.build(df,
      operators.SuffixIndex.Config(maxDepth = 32, parts = 4))
    for (minLen <- Seq(8, 16, 32)) {
      val viaIndex = operators.SuffixIndex.removeRanges(index, minLen)
        .as[(Long, Long, Long)].collect().toSet
      val perMinLen = SubstringDedup.removeRanges(df, SubstringDedup.Config(minLen))
        .as[(Long, Long, Long)].collect().toSet
      assert(viaIndex == perMinLen, s"minLen=$minLen")
      assert(viaIndex == bruteRanges(docs.filter(_._2 != null), minLen), s"minLen=$minLen vs brute")
    }
  }

  test("suffix index: lcp values are exact against brute-force suffix comparison") {
    val docs = Seq((1L, "banana"), (2L, "bananas are bananas"), (3L, "anab"))
    val df = spark_(docs)
    for (maxDepth <- Seq(2, 8, 32)) {
    val idx = operators.SuffixIndex.build(df, operators.SuffixIndex.Config(maxDepth, parts = 4))
      .rows.orderBy("gidx")
      .select("k", "pos", "lcp").as[(Long, Long, Option[Long])].collect()
    val texts = docs.toMap
    def suffix(k: Long, p: Long): String = {
      val t = texts(k); t.substring(p.toInt, math.min(t.length, p.toInt + maxDepth))
    }
    // brute order: bounded-depth suffixes, ties by (k, pos)
    val bruteOrder = docs.flatMap { case (k, t) =>
      (0 until t.length).map(p => (suffix(k, p), k, p.toLong))
    }.sorted
    idx.zipWithIndex.foreach { case ((k, p, lcpOpt), i) =>
      val (bs, bk, bp) = bruteOrder(i)
      // rank ties may permute, but the bounded suffix STRING at each
      // order slot is unique-or-tied, so compare strings not (k,pos)
      assert(suffix(k, p) == bs, s"order slot $i: (${k},${p}) vs (${bk},${bp})")
      if (i == 0) assert(lcpOpt.isEmpty)
      else {
        val prevS = bruteOrder(i - 1)._1
        // bounded-equal suffixes (rank ties, incl. truncated-equal) store
        // the cap; otherwise the exact common-prefix length
        val expected =
          if (bs == prevS) maxDepth
          else math.min(bs.zip(prevS).takeWhile { case (a, b) => a == b }.size, maxDepth)
        assert(lcpOpt.contains(expected.toLong), s"slot $i lcp (maxDepth=$maxDepth): got $lcpOpt want $expected")
      }
    }
    }
  }

  test("A9 index-order verification: sorted window frame has no violations") {
    for (seed <- Seq(1, 4)) {
      val docs = spark_(randomDocs(seed, 40, "ab")) // dense duplicate runs
      assert(SubstringDedup.windowOrderViolations(docs, 6).count() == 0)
    }
  }

  test("multi-byte UTF-8: brute force agreement + annotate clips to char boundaries") {
    val docs = randomDocs(7, 20, "a日é😊b ")
    val minLen = 8
    val expected = bruteRanges(docs, minLen)
    val df = spark_(docs)
    val got = SubstringDedup.removeRanges(df, SubstringDedup.Config(minLen))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected)

    val annotated = SubstringDedup.annotate(df, SubstringDedup.Config(minLen))
    val byK = docs.toMap
    annotated.select($"k", $"sa_remove_ranges").as[(Long, Seq[(Long, Long)])]
      .collect().foreach { case (k, ranges) =>
        val b = byK(k).getBytes(UTF_8)
        ranges.foreach { case (s, e) =>
          assert(s <= e)
          assert(s == b.length || (b(s.toInt) & 0xc0) != 0x80, s"k=$k s=$s not boundary")
          assert(e == b.length || (b(e.toInt) & 0xc0) != 0x80, s"k=$k e=$e not boundary")
          // clip only shrinks: re-clipping is identity
          assert(Utf8.clipRange(b, s, e) == ((s, e)))
        }
        // ranges stay sorted + disjoint after clipping
        ranges.sliding(2).foreach {
          case Seq((_, e1), (s2, _)) => assert(e1 <= s2)
          case _ =>
        }
      }
  }

  test("remove mode cuts exactly the clipped ranges") {
    val docs = Seq(
      (0L, "0123456789abcdefghij"),
      (1L, "xx0123456789abcdefghijyy")) // shares a 20-byte run
    val minLen = 10
    val out = SubstringDedup.remove(spark_(docs), SubstringDedup.Config(minLen))
      .select($"k", $"text_deduped").as[(Long, String)].collect().toMap
    assert(out(0L) == "0123456789abcdefghij") // first occurrence kept whole
    assert(out(1L) == "xxyy") // duplicated middle removed
  }

  test("docs shorter than minLen produce no windows and survive annotate") {
    val docs = Seq((0L, "short"), (1L, "short"), (2L, ""))
    val ranges = SubstringDedup.removeRanges(spark_(docs), SubstringDedup.Config(32))
    assert(ranges.count() == 0)
    val ann = SubstringDedup.annotate(spark_(docs), SubstringDedup.Config(32))
    assert(ann.count() == 3)
    assert(ann.where(size($"sa_remove_ranges") =!= 0).count() == 0)
  }

  test("first occurrence kept under (k, pos) order: dup_ptrs flags") {
    val docs = Seq((5L, "ABCDEFGHIJKLMNOP"), (2L, "ABCDEFGHIJKLMNOP"))
    val dp = SubstringDedup.dupPtrs(spark_(docs), SubstringDedup.Config(16))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(dp == Set((2L, 0L, false), (5L, 0L, true))) // k=2 is first
  }

  test("plan shape: shuffle exchanges and joins of each substring-dedup unit") {
    // the physical plan before execution (AQE's initial plan): inline
    // byte verification runs on the two exchanges alone; the join
    // verification of long byte windows, tokens and ids adds two
    // broadcast joins and no shuffle. Above minLen 32 the anchor phase
    // (the anchor-hash exchange, the per-doc anchor aggregate's exchange
    // and one broadcast join onto the docs) runs and is pinned while the
    // frame is built, so the returned plan -- the same two exchanges and
    // two joins -- reads the pinned candidate docs instead of the input:
    // once for the windows, once per verification join
    def plan(df: DataFrame) = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def shape(df: DataFrame): (Int, Int) =
      (plan(df).collect { case e: ShuffleExchangeExec => e }.size,
        plan(df).collect { case j: BaseJoinExec => j }.size)
    def pinnedScans(df: DataFrame): Int =
      plan(df).collect { case r: org.apache.spark.sql.execution.RDDScanExec => r }.size
    val text = spark_(randomDocs(1, 25, "abc"))
    val words = spark_(Seq((1L, "aa bb cc dd ee aa bb cc"), (2L, "bb cc dd ee")))
    val ids = Seq((1L, Seq(1L, 2L, 3L, 4L, 1L, 2L)), (2L, Seq(2L, 3L, 4L))).toDF("k", "tokens")
    assert(shape(SubstringDedup.removeRanges(text, SubstringDedup.Config(6))) == ((2, 0)), "bytes inline")
    assert(shape(SubstringDedup.removeRanges(text, SubstringDedup.Config(40))) == ((2, 2)), "bytes join")
    assert(shape(SubstringDedup.removeRanges(text,
      SubstringDedup.Config(6, verifyBytes = false))) == ((2, 0)), "bytes unverified")
    assert(shape(SubstringDedup.removeRangesTokens(words, 3)) == ((2, 2)), "tokens")
    assert(shape(SubstringDedup.removeRangesIds(ids, 3)) == ((2, 2)), "ids")
    assert(shape(SubstringDedup.removeRangesTokens(words, 40)) == ((2, 2)), "tokens anchored")
    assert(shape(SubstringDedup.removeRangesIds(ids, 40)) == ((2, 2)), "ids anchored")
    assert(pinnedScans(SubstringDedup.removeRanges(text, SubstringDedup.Config(40))) == 3, "bytes pinned")
    assert(pinnedScans(SubstringDedup.removeRangesTokens(words, 40)) == 3, "tokens pinned")
    assert(pinnedScans(SubstringDedup.removeRangesIds(ids, 40)) == 3, "ids pinned")
    assert(pinnedScans(SubstringDedup.removeRanges(text, SubstringDedup.Config(6))) == 0, "inline reads the input")
    assert(pinnedScans(SubstringDedup.removeRangesIds(ids, 3)) == 0, "ids minLen 3 reads the input")
    // the suffix-index query: at the build depth a per-row filter, below
    // it the gidx-aligned segment scan with its keeper join
    val index = operators.SuffixIndex.build(text, operators.SuffixIndex.Config(maxDepth = 32, parts = 4))
    assert(shape(operators.SuffixIndex.removeRanges(index, 32)) == ((1, 0)), "index filter")
    assert(shape(operators.SuffixIndex.removeRanges(index, 8)) == ((2, 1)), "index segment scan")
  }

  test("suffix index: a query deeper than the build fails loudly") {
    val df = spark_(Seq((1L, "x" * 80), (2L, "x" * 80)))
    val index = operators.SuffixIndex.build(df, operators.SuffixIndex.Config(maxDepth = 32, parts = 4))
    // every stored lcp is <= 32, so a minLen-64 answer would be silently empty
    val e = intercept[IllegalArgumentException](operators.SuffixIndex.removeRanges(index, 64))
    assert(e.getMessage.contains("maxDepth 32"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](operators.SuffixIndex.build(df,
      operators.SuffixIndex.Config(maxDepth = 64, parts = 4)))
    assert(e2.getMessage.contains("SubstringDedup.removeRanges"), e2.getMessage)
  }

  test("null token elements fail loudly instead of hashing as id 0") {
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString(" | ")
    // a JSON `"tokens": [1, null, 3]` reads as array<bigint> with a null
    val ids = Seq((1L, Seq(Some(1L), None, Some(3L), Some(1L), None, Some(3L))))
      .toDF("k", "tokens")
    val e1 = intercept[Exception](SubstringDedup.removeRangesIds(ids, 2).collect())
    assert(messages(e1).contains("null element"), messages(e1))
    // shorter than the window: still rejected, the check covers every id
    val e2 = intercept[Exception](SubstringDedup.removeRangesIds(ids, 9).collect())
    assert(messages(e2).contains("null element"), messages(e2))
    val toks = Seq((1L, Seq("a", null, "b"))).toDF("k", "ts")
    val e3 = intercept[Exception](toks.select(graft.functions.GraftFunctions
      .windowGen(col("ts"), 2).as(Seq("h1", "h2", "pos"))).collect())
    assert(messages(e3).contains("null element"), messages(e3))
  }
}
