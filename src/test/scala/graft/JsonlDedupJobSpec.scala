package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.zip.GZIPOutputStream
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** End-to-end reference-workflow test: JSONL tree in -> substring dedup ->
  * mirrored JSONL tree out, both modes, with the reference's own checks
  * (line-count equality per file, verify_zst.py:20-43; non-dup docs
  * byte-identical; metadata passthrough).
  *
  * File order follows the reference's sort key -- the relative path with
  * "crawl=" stripped (indexing_v6_sharded.py:179) -- so "crawl=a/part0"
  * orders as "a/part0", BEFORE "b/part1": the crawl=a copy is the one
  * kept and b/part1's copy is the one annotated/cut.
  */
class JsonlDedupJobSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val run = "qwertyuiopasdfghjklzxcvbnm0123456789QWERTY" // 42 bytes >= minLen 32

  private def writeGz(p: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(p.getParent)
    val os = new GZIPOutputStream(Files.newOutputStream(p))
    os.write(lines.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8))
    os.close()
  }

  private def writeZst(p: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(p.getParent)
    val os = new com.github.luben.zstd.ZstdOutputStream(Files.newOutputStream(p))
    os.write(lines.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8))
    os.close()
  }

  private def writePlain(p: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, lines.map(_ + "\n").mkString)
  }

  private def mkTree(): String = {
    val root = Files.createTempDirectory("graft_jsonl_in")
    writeGz(root.resolve("crawl=a/part0.jsonl.gz"), Seq(
      s"""{"text": "the original $run lives here first", "meta": "m0"}""",
      """{"text": "totally unrelated content with no duplicate run", "meta": "m1"}"""))
    writePlain(root.resolve("b/part1.jsonl"), Seq(
      s"""{"text": "a later copy $run appears again", "meta": "m2"}""",
      """{"text": "short", "meta": "m3"}"""))
    root.toString
  }

  test("annotate mode: mirrored tree, line counts equal, dup copy annotated, metadata passes through") {
    val in = mkTree()
    val out = Files.createTempDirectory("graft_jsonl_out").toString
    val res = JsonlDedupJob.run(spark, in, out, minLen = 32, mode = "annotate", compression = "gzip")
    val files = res.written.as[(String, Long)].collect().toMap
    assert(files == Map("crawl=a/part0.jsonl" -> 2L, "b/part1.jsonl" -> 2L))
    // gzip out + gzip in -> the tree mirrors exactly
    assert(Files.exists(Paths.get(out, "crawl=a", "part0.jsonl.gz")))
    assert(Files.exists(Paths.get(out, "b", "part1.jsonl.gz")))

    val back = spark.read.option("recursiveFileLookup", "true").json(out)
    assert(back.count() == 4)
    // metadata passthrough, all docs present
    assert(back.select("meta").as[String].collect().toSet == Set("m0", "m1", "m2", "m3"))
    // reference order strips "crawl=": crawl=a/part0 -> "a/part0" sorts
    // FIRST, so its copy is kept and b/part1's (m2) is the annotated one
    val annotated = back.where(size(col("sa_remove_ranges")) > 0)
      .select("meta").as[String].collect().toSet
    assert(annotated == Set("m2"), s"got $annotated")
  }

  test("remove mode: duplicated span cut, non-dup docs byte-identical, counts preserved") {
    val in = mkTree()
    val out = Files.createTempDirectory("graft_jsonl_out2").toString
    JsonlDedupJob.run(spark, in, out, minLen = 32, mode = "remove", compression = "none")
      .written.collect()

    val back = spark.read.option("recursiveFileLookup", "true").json(out)
      .select("meta", "text").as[(String, String)].collect().toMap
    assert(back.size == 4)
    // first occurrence in reference order (crawl=a/part0 line 0) intact
    assert(back("m0") == s"the original $run lives here first")
    // non-dup docs byte-identical
    assert(back("m1") == "totally unrelated content with no duplicate run")
    assert(back("m3") == "short")
    // the later copy lost (at least) the shared run
    assert(!back("m2").contains(run))
    assert(back("m2").length < s"a later copy $run appears again".length)
  }

  test("ids unit: pre-tokenized tree dedups id runs, remove mode drops the spans") {
    // records carry `tokens: array<int>` (the reference's production
    // shape: vocab applied upstream); no `text` field at all
    val idRun = (0 until 8).map(i => 500 + i) // 8 ids >= minLen 6
    def rec(meta: String, ids: Seq[Int]) =
      s"""{"tokens": [${ids.mkString(", ")}], "meta": "$meta"}"""
    val root = Files.createTempDirectory("graft_jsonl_ids_in")
    writeGz(root.resolve("crawl=a/part0.jsonl.gz"), Seq(
      rec("m0", idRun ++ Seq(1, 2)),
      rec("m1", Seq(9, 10, 11, 12, 13, 14, 15, 16)))) // unique ids: untouched
    writePlain(root.resolve("b/part1.jsonl"), Seq(
      rec("m2", Seq(3, 4) ++ idRun),
      rec("m3", Seq(5, 6)))) // shorter than minLen: untouched
    val in = root.toString

    val outA = Files.createTempDirectory("graft_jsonl_ids_ann").toString
    JsonlDedupJob.run(spark, in, outA, minLen = 6, mode = "annotate",
      compression = "none", unit = "ids").written.collect()
    val ann = spark.read.option("recursiveFileLookup", "true").json(outA)
    assert(ann.count() == 4)
    val annotated = ann.where(size(col("sa_remove_ranges_tokens")) > 0)
      .select("meta").as[String].collect().toSet
    // crawl=a/part0 sorts first ("a/part0"): m0's copy is kept, m2's cut
    assert(annotated == Set("m2"), s"got $annotated")

    val outR = Files.createTempDirectory("graft_jsonl_ids_rm").toString
    JsonlDedupJob.run(spark, in, outR, minLen = 6, mode = "remove",
      compression = "none", unit = "ids").written.collect()
    val back = spark.read.option("recursiveFileLookup", "true").json(outR)
      .select("meta", "tokens").as[(String, Seq[Long])].collect().toMap
    assert(back.size == 4)
    assert(back("m0") == (idRun ++ Seq(1, 2)).map(_.toLong)) // kept copy intact
    assert(back("m1") == (9L to 16L))
    assert(back("m2") == Seq(3L, 4L)) // duplicated id span dropped
    assert(back("m3") == Seq(5L, 6L))
  }

  test("stage-dir: remove_ranges snapshot computed once, reused across output modes") {
    val in = mkTree()
    val stage = Files.createTempDirectory("graft_jsonl_stage").toString
    val out1 = Files.createTempDirectory("graft_jsonl_sd1").toString
    val out2 = Files.createTempDirectory("graft_jsonl_sd2").toString
    JsonlDedupJob.run(spark, in, out1, minLen = 32, mode = "annotate",
      compression = "none", stageDir = Some(stage)).written.collect()
    val st = new graft.plans.Stage(spark, stage)
    val m1 = st.metrics.count()
    assert(m1 > 0)
    // second run in the OTHER mode resumes the snapshot: no new metrics rows
    JsonlDedupJob.run(spark, in, out2, minLen = 32, mode = "remove",
      compression = "none", stageDir = Some(stage)).written.collect()
    assert(st.metrics.count() == m1, "ranges stage must resume, not recompute")
    // the snapshot is the narrow reference artifact (k, s, e)
    // stage name carries the unit (a bytes-run snapshot must never be
    // resumed by a tokens/reversed run with the same (k,s,e) schema)
    val snap = spark.read.parquet(s"$stage/remove_ranges_bytes")
    assert(snap.columns.toSet == Set("k", "s", "e") && snap.count() > 0)
    // and the resumed remove-mode output still cuts the duplicated run
    val back = spark.read.option("recursiveFileLookup", "true").json(out2)
      .select("meta", "text").as[(String, String)].collect().toMap
    assert(back("m0") == s"the original $run lives here first")
    assert(!back("m2").contains(run))
  }

  test("readTree streams: many-line gz + zst files, exact linenums across blank lines, no whole-file rows") {
    val root = Files.createTempDirectory("graft_jsonl_stream")
    // 5000 lines with a blank every 7th: linenum must count PHYSICAL lines
    val lines = (0 until 5000).map { i =>
      if (i % 7 == 3) "" else s"""{"text": "doc body number $i with some padding text", "id": $i}"""
    }
    writeGz(root.resolve("big.jsonl.gz"), lines)
    writeZst(root.resolve("z/extra.jsonl.zst"), Seq(
      """{"text": "zstd doc one", "id": 90001}""",
      """{"text": "zstd doc two", "id": 90002}"""))
    val df = JsonlDedupJob.readTree(spark, root.toString)
    val got = df.select("path", "linenum", "id").as[(String, Long, Long)].collect()
    val big = got.filter(_._1 == "big.jsonl.gz")
    assert(big.length == lines.count(_.nonEmpty))
    // each doc's linenum equals its physical 0-based line index
    val byId = big.map(r => r._3 -> r._2).toMap
    assert(byId(0L) == 0L && byId(2L) == 2L)
    assert(!byId.contains(3L) && byId(4L) == 4L, "blank line must advance linenum")
    assert(byId(4999L) == 4999L)
    // zst file parsed, k carries the file index in the high bits
    val ks = df.where(col("path").startsWith("z/")).select("k").as[Long].collect()
    assert(ks.length == 2)
    assert(ks.forall(_ >= (1L << JsonlDedupJob.LinenumBits)), "second file's k must rank after the first file's")
  }

  test("end-to-end unicode differential: annotate through the full job matches the brute oracle + independent clip") {
    val minLen = 16
    val runStr = "SHARED-RUN-0123456789-abcdefghij" // 32 ASCII bytes
    val root = Files.createTempDirectory("graft_jsonl_uni")
    // reference order: crawl=u/one (-> "u/one") before v/two
    val fileA = Seq(
      s"""{"text": "prefix 日本 $runStr über tail😊", "id": "a0"}""",
      """{"text": "nothing shared in ここ at all, solo doc", "id": "a1"}""")
    val fileB = Seq(
      s"""{"text": "copy $runStr with é tail", "id": "b0"}""",
      "",
      s"""{"text": "😊😊 another $runStr planted late", "id": "b2"}""")
    writeGz(root.resolve("crawl=u/one.jsonl.gz"), fileA)
    writePlain(root.resolve("v/two.jsonl"), fileB)

    val out = Files.createTempDirectory("graft_jsonl_uni_out").toString
    JsonlDedupJob.run(spark, root.toString, out, minLen = minLen,
      mode = "annotate", compression = "none").written.collect()

    // oracle over the SAME global (k = fid<<40 | linenum) order; fixture
    // texts are regex-extractable (no escapes), so no JSON dep needed
    val parse = (line: String) =>
      """"text": "(.*?)", "id"""".r.findFirstMatchIn(line).get.group(1)
    val ordered: Seq[(Long, String, String)] =
      fileA.zipWithIndex.collect { case (l, i) if l.nonEmpty =>
        (i.toLong, parse(l), s"a$i") } ++
      fileB.zipWithIndex.collect { case (l, i) if l.nonEmpty =>
        ((1L << JsonlDedupJob.LinenumBits) + i, parse(l), s"b$i") }
    val expectedRaw = DedupTestOracle.bruteRanges(ordered.map(d => (d._1, d._2)), minLen)
    val expected: Map[String, Seq[(Long, Long)]] = ordered.map { case (k, t, id) =>
      val b = t.getBytes(StandardCharsets.UTF_8)
      id -> expectedRaw.toSeq.filter(_._1 == k).map(r => (r._2, r._3)).sorted
        .map { case (s, e) => DedupTestOracle.clipIndependent(b, s, e) }
    }.toMap

    val back = spark.read.option("recursiveFileLookup", "true").json(out)
      .select(col("id"), col("text"),
        expr("transform(sa_remove_ranges, r -> struct(r.s as s, r.e as e))").as("r"))
      .as[(String, String, Seq[(Long, Long)])].collect()
    assert(back.length == ordered.length)
    back.foreach { case (id, text, got) =>
      // text fidelity through gz/plain + unicode
      assert(text == ordered.find(_._3 == id).get._2, s"text mangled for $id")
      assert(got == expected(id), s"ranges for $id: got $got want ${expected(id)}")
    }
    // sanity: the later copies were actually annotated
    assert(expected("b0").nonEmpty && expected("b2").nonEmpty && expected("a0").isEmpty)
  }

  test("gzip tree at minLen 64 (anchored candidates): annotate matches the brute oracle") {
    val minLen = 64
    val r = new scala.util.Random(64)
    def rnd(n: Int) = (0 until n).map(_ => "abcdefgh日é "(r.nextInt(11))).mkString
    val shared = rnd(90)
    val texts = Seq(
      Seq(s"head ${rnd(200)} $shared tail", rnd(150), "short", ""),
      Seq(s"$shared ${rnd(80)}", rnd(40) + shared.take(63), s"${rnd(70)} $shared"),
      Seq(s"${shared.take(70)}${shared.take(70)}", rnd(300)))
    val root = Files.createTempDirectory("graft_jsonl_m64")
    texts.zipWithIndex.foreach { case (ts, f) =>
      writeGz(root.resolve(s"crawl=c$f/part.jsonl.gz"),
        ts.zipWithIndex.map { case (t, i) => s"""{"text": "$t", "id": "f${f}l$i"}""" })
    }
    val out = Files.createTempDirectory("graft_jsonl_m64_out").toString
    JsonlDedupJob.run(spark, root.toString, out, minLen = minLen,
      mode = "annotate", compression = "gzip").written.collect()

    val ordered = texts.zipWithIndex.flatMap { case (ts, f) =>
      ts.zipWithIndex.map { case (t, i) => ((f.toLong << JsonlDedupJob.LinenumBits) + i, t, s"f${f}l$i") }
    }
    val expectedRaw = DedupTestOracle.bruteRanges(ordered.map(d => (d._1, d._2)), minLen)
    assert(expectedRaw.map(_._1).size >= 3, expectedRaw)
    val expected = ordered.map { case (k, t, id) =>
      val b = t.getBytes(StandardCharsets.UTF_8)
      id -> expectedRaw.toSeq.filter(_._1 == k).map(r => (r._2, r._3)).sorted
        .map { case (s, e) => DedupTestOracle.clipIndependent(b, s, e) }
    }.toMap
    val back = spark.read.option("recursiveFileLookup", "true").json(out)
      .select(col("id"), col("text"),
        expr("transform(sa_remove_ranges, r -> struct(r.s as s, r.e as e))").as("r"))
      .as[(String, String, Seq[(Long, Long)])].collect()
    assert(back.length == ordered.length)
    back.foreach { case (id, text, got) =>
      assert(text == ordered.find(_._3 == id).get._2, s"text mangled for $id")
      assert(got == expected(id), s"ranges for $id: got $got want ${expected(id)}")
    }
  }

  test("readTree fails fast with path:linenum on a missing text field") {
    val root = Files.createTempDirectory("graft_jsonl_bad")
    writePlain(root.resolve("ok.jsonl"), Seq("""{"text": "fine", "meta": "x"}"""))
    writePlain(root.resolve("zz_bad.jsonl"), Seq(
      """{"text": "fine too", "meta": "y"}""",
      """{"meta": "no text field here"}"""))
    val e = intercept[Exception] {
      JsonlDedupJob.readTree(spark, root.toString).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("zz_bad.jsonl:1")),
      s"error should name the offending path:linenum, got: ${msgs(e)}")
  }

  test("readTree: 0-byte .gz files are skipped, missing trailing newline still yields the last doc") {
    val root = Files.createTempDirectory("graft_jsonl_edge")
    Files.createDirectories(root.resolve("sub"))
    Files.write(root.resolve("sub/empty.jsonl.gz"), Array.emptyByteArray)
    // no trailing newline on the final line
    Files.writeString(root.resolve("a.jsonl"),
      "{\"text\": \"first line doc\"}\n{\"text\": \"last line no newline\"}")
    val got = JsonlDedupJob.readTree(spark, root.toString)
      .select("path", "linenum", "text").as[(String, Long, String)].collect().sortBy(_._2)
    assert(got.toSeq == Seq(
      ("a.jsonl", 0L, "first line doc"),
      ("a.jsonl", 1L, "last line no newline")))
  }

  test("token-unit workflow: annotate carries token ranges, remove cuts the span; reversed maps back") {
    val run10 = (1 to 10).map(i => s"t$i").mkString(" ")
    val root = Files.createTempDirectory("graft_tok_in")
    writePlain(root.resolve("a/part0.jsonl"), Seq(
      s"""{"text": "$run10 unique alpha beta", "meta": "m0"}"""))
    writePlain(root.resolve("b/part1.jsonl"), Seq(
      s"""{"text": "prefix words here $run10 tail words", "meta": "m1"}"""))

    val ann = JsonlDedupJob.run(spark, root.toString,
      Files.createTempDirectory("graft_tok_ann").toString,
      minLen = 8, mode = "annotate", unit = "tokens")
    ann.written.count()
    val ranges = ann.docs.where(col("meta") === "m1")
      .select(explode(col("sa_remove_ranges_tokens")))
      .select("col.s", "col.e").as[(Long, Long)].collect().toSeq
    // doc2 tokens: 3 prefix + 10 copied + 2 tail; the copied run spans
    // token offsets [3, 13)
    assert(ranges == Seq((3L, 13L)))
    assert(ann.docs.where(col("meta") === "m0")
      .select(size(col("sa_remove_ranges_tokens"))).as[Int].collect().head == 0)

    val rem = JsonlDedupJob.run(spark, root.toString,
      Files.createTempDirectory("graft_tok_rem").toString,
      minLen = 8, mode = "remove", unit = "tokens")
    rem.written.count()
    val cut = rem.docs.where(col("meta") === "m1").select("text").as[String].collect().head
    assert(cut == "prefix words here tail words")

    // reversed scan: same keep/remove decision here, ranges mapped back
    // to original orientation
    val rev = JsonlDedupJob.run(spark, root.toString,
      Files.createTempDirectory("graft_tok_rev").toString,
      minLen = 8, mode = "annotate", unit = "tokens", reversed = true)
    rev.written.count()
    val revRanges = rev.docs.where(col("meta") === "m1")
      .select(explode(col("sa_remove_ranges_tokens")))
      .select("col.s", "col.e").as[(Long, Long)].collect().toSeq
    assert(revRanges == Seq((3L, 13L)))
  }

  test("splittable plain ingest: tiny splitBytes == unsplit read, exact linenums, >1 task") {
    val root = Files.createTempDirectory("graft_split_in")
    val r = new scala.util.Random(13)
    // ~600 lines with blanks sprinkled in and NO trailing newline on the
    // last line -- every split-boundary edge case in one file
    val lines = (0 until 600).flatMap { i =>
      val doc = s"""{"text": "doc $i ${"x" * r.nextInt(90)} tail", "meta": "m$i"}"""
      if (i % 37 == 5) Seq(doc, "") else Seq(doc)
    }
    val p = root.resolve("big/part0.jsonl")
    Files.createDirectories(p.getParent)
    Files.writeString(p, lines.mkString("\n")) // no trailing \n
    // a small gz sibling keeps the mixed-tree path honest
    writeGz(root.resolve("big/part1.jsonl.gz"), Seq(
      """{"text": "gz sibling doc", "meta": "g0"}"""))

    val whole = JsonlDedupJob.readTree(spark, root.toString, splitBytes = 0)
      .select("path", "linenum", "k", "text", "meta")
    val split = JsonlDedupJob.readTree(spark, root.toString, splitBytes = 512)
      .select("path", "linenum", "k", "text", "meta")
    val fileLen = Files.size(p)
    assert(fileLen > 5 * 512, "fixture must span many chunks")
    val w = whole.collect().map(_.toSeq).toSet
    val s = split.collect().map(_.toSeq).toSet
    assert(s == w)
    assert(s.size == 601) // 600 docs + 1 gz sibling; blanks emit nothing
    // the split read really ran >1 task for the plain file
    assert(split.rdd.getNumPartitions > 2)
  }

  test("splittable ingest: chunk boundaries landing exactly on newlines stay exact") {
    // every line is exactly 31 bytes + '\n' = 32; splitBytes=64 puts every
    // chunk boundary precisely on a line start -- the off-by-one-iest case
    val root = Files.createTempDirectory("graft_split_edge")
    val lines = (0 until 64).map(i => f"""{"text": "doc$i%04d pad 1234567"}""")
    lines.foreach(l => assert(l.getBytes(StandardCharsets.UTF_8).length == 31, l.length))
    val p = root.resolve("f.jsonl")
    Files.writeString(p, lines.map(_ + "\n").mkString)
    val whole = JsonlDedupJob.readTree(spark, root.toString, splitBytes = 0)
      .select("linenum", "text").as[(Long, String)].collect().toSet
    val split = JsonlDedupJob.readTree(spark, root.toString, splitBytes = 64)
      .select("linenum", "text").as[(Long, String)].collect().toSet
    assert(split == whole)
    assert(split.size == 64)
    assert(split.map(_._1) == (0L until 64L).toSet)
  }

  test("splittable ingest: a single line spanning many chunks is read once, by its owner") {
    val root = Files.createTempDirectory("graft_split_giant")
    val giant = s"""{"text": "giant ${"g" * 5000} end"}"""
    val lines = Seq("""{"text": "small before"}""", giant, """{"text": "small after"}""")
    Files.writeString(root.resolve("f.jsonl"), lines.map(_ + "\n").mkString)
    val got = JsonlDedupJob.readTree(spark, root.toString, splitBytes = 512)
      .select("linenum", "text").as[(Long, String)].collect().toSet
    assert(got.map(_._1) == Set(0L, 1L, 2L))
    assert(got.count(_._2.startsWith("giant")) == 1)
    assert(got == JsonlDedupJob.readTree(spark, root.toString, splitBytes = 0)
      .select("linenum", "text").as[(Long, String)].collect().toSet)
  }

  test("splittable ingest: CRLF line endings agree with the whole-file reader") {
    val root = Files.createTempDirectory("graft_split_crlf")
    val lines = (0 until 120).map(i => s"""{"text": "crlf doc $i with some padding text"}""")
    Files.write(root.resolve("f.jsonl"),
      lines.map(_ + "\r\n").mkString.getBytes(StandardCharsets.UTF_8))
    val whole = JsonlDedupJob.readTree(spark, root.toString, splitBytes = 0)
      .select("linenum", "text").as[(Long, String)].collect().toSet
    val split = JsonlDedupJob.readTree(spark, root.toString, splitBytes = 256)
      .select("linenum", "text").as[(Long, String)].collect().toSet
    assert(split == whole)
    assert(split.size == 120)
    assert(split.forall(!_._2.contains("\r")))
  }

  test("listTree orders by the reference key (crawl= stripped)") {
    val root = Files.createTempDirectory("graft_jsonl_order")
    for (p <- Seq("crawl=b/x.jsonl", "a0/y.jsonl", "crawl=a1/z.jsonl", "b1/w.jsonl"))
      writePlain(root.resolve(p), Seq("""{"text": "t"}"""))
    val got = JsonlDedupJob.listTree(spark, root.toString)
    // keys: a0/y.jsonl, a1/z.jsonl, b/x.jsonl, b1/w.jsonl ("/" < "1")
    assert(got == Seq("a0/y.jsonl", "crawl=a1/z.jsonl", "crawl=b/x.jsonl", "b1/w.jsonl"))
  }
}
