package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator family from SURVEY.md §2 on
  * the driver's parquet tables; `oracleSql` holds the equivalent ANSI SQL
  * the driver runs in DuckDB on the same tables. Column names and types
  * are aligned between the two (the driver's compare sorts columns by
  * name); floats are rounded on both sides.
  *
  * The driver corpus has no duplicate texts, so the dedup queries plant
  * duplicates with deterministic derivations (self-unions / suffix
  * concats) expressed identically in Scala and SQL.
  */
object SparkEntry {

  val MinLen = 32
  val MinLenTok = 8
  val ShingleN = 5

  // ---- shared deterministic input constructions ----

  private def baseDocs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("k"), col("text"))

  /** every doc_id % 7 == 0 doc reappears verbatim under doc_id + 1000000 */
  private[graft] def docsWithDups(spark: SparkSession, dir: String): DataFrame = {
    val d = baseDocs(spark, dir)
    d.unionAll(d.where(col("k") % 7 === 0)
      .select((col("k") + 1000000L).as("k"), col("text")))
  }

  private val docsWithDupsSql =
    """SELECT CAST(doc_id AS BIGINT) AS k, text FROM documents
      |UNION ALL
      |SELECT CAST(doc_id + 1000000 AS BIGINT) AS k, text FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** docsWithDups mapped to a planted PRE-TOKENIZED id stream: each
    * whitespace token becomes the deterministic id `length + 256*ascii`
    * (computable identically in DuckDB over the ASCII fixture), so the
    * ids-mode operator gets the reference-production input shape
    * (k, tokens: array<bigint>) with duplicated runs intact.
    */
  private def docsWithIdTokens(spark: SparkSession, dir: String): DataFrame =
    docsWithDups(spark, dir).select(col("k"),
      expr("transform(filter(split(text, ' '), t -> t != '')," +
        " t -> CAST(length(t) + 256 * ascii(t) AS BIGINT))").as("tokens"))

  /** DuckDB mirror of the planted id stream; VARCHAR ids so the oracle's
    * space-joined window key stays injective (int -> decimal string is).
    */
  private val idTokensSqlExpr =
    "list_transform(list_filter(string_split(text, ' '), t -> t <> '')," +
      " t -> CAST(length(t) + 256 * ascii(t) AS VARCHAR))"

  /** dups + near-dups: doc_id % 7 == 1 docs reappear with their own first
    * 20 chars appended (high-but-not-1.0 Jaccard).
    */
  private def docsWithNearDups(spark: SparkSession, dir: String): DataFrame = {
    val d = baseDocs(spark, dir)
    docsWithDups(spark, dir).unionAll(
      d.where(col("k") % 7 === 1)
        .select((col("k") + 2000000L).as("k"),
          concat(col("text"), lit(" "), substring(col("text"), 1, 20)).as("text")))
  }

  private val docsWithNearDupsSql =
    s"""$docsWithDupsSql
       |UNION ALL
       |SELECT CAST(doc_id + 2000000 AS BIGINT) AS k, text || ' ' || substr(text, 1, 20) AS text
       |FROM documents WHERE doc_id % 7 = 1""".stripMargin

  /** docs + split copies: doc_id % 7 == 2 docs reappear under
    * doc_id + 3000000 with a unique marker spliced in at char 50 -- the
    * copy carries TWO separated duplicate runs, so coalescing produces two
    * ranges per copy and a kept-in-the-middle gap between them.
    */
  private def docsWithSplitDups(spark: SparkSession, dir: String): DataFrame = {
    val d = baseDocs(spark, dir)
    d.unionAll(
      d.where(col("k") % 7 === 2)
        .select((col("k") + 3000000L).as("k"),
          concat(substring(col("text"), 1, 50), lit(" zq"),
            col("k").cast("string"), lit(" "), expr("substring(text, 51)")).as("text")))
  }

  private val docsWithSplitDupsSql =
    """SELECT CAST(doc_id AS BIGINT) AS k, text FROM documents
      |UNION ALL
      |SELECT CAST(doc_id + 3000000 AS BIGINT) AS k,
      |       substr(text, 1, 50) || ' zq' || CAST(doc_id AS VARCHAR) || ' ' || substr(text, 51) AS text
      |FROM documents WHERE doc_id % 7 = 2""".stripMargin

  /** ASCII-contract guard for queries whose DuckDB oracle hashes CHARACTER
    * code points (`ord(substr(...))` in winnowCtes / the simhash CTEs)
    * while the Spark operator hashes UTF-8 BYTES: the two only agree when
    * every character is single-byte. The driver fixture is ASCII (see
    * TESTDATA.md); if a future fixture isn't, this fails loudly with the
    * offending doc instead of producing a confusing oracle hash mismatch.
    * Lazy (raise_error column), so no extra pass over the data.
    */
  private def asciiGuard(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(octet_length(col("text")) =!= length(col("text")),
        raise_error(concat(
          lit("non-ASCII text breaks the char-based winnow/simhash SQL oracle, k="),
          col("k").cast("string"))).cast("string"))
        .otherwise(col("text")))

  /** Oracle config for the LSH family: a small signature (8 hashes, 4
    * bands x 2 rows) keeps the DuckDB SQL reimplementation of
    * polyhash61/splitmix64 tractable; no bucket prune so the candidate
    * semantics are exactly "share >= 1 band bucket" (same as the SQL).
    */
  private val lshOracleCfg = MinHashLSH.Config(
    shingleLen = 3, numHashes = 8, bands = 4,
    maxBucketSize = Long.MaxValue, wordShingles = true)

  /** Docs with >= 3 words: below that the Spark side emits sentinel
    * signatures while SQL gram generation emits nothing -- excluded on
    * both sides so the contract is identical.
    */
  private def lshDocs(spark: SparkSession, dir: String): DataFrame =
    docsWithNearDups(spark, dir)
      .where(expr("size(filter(split(text, ' '), x -> x != '')) >= 3"))

  /** 64-bit pseudo-phash: groups of 10 consecutive doc_ids share a base
    * pattern and differ in <= 4 low bits -> guaranteed Hamming-near pairs.
    */
  private def phashDocs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("id"),
        expr("((doc_id div 10) * 2654435761 % 4294967296) ^ (doc_id % 10)").as("bits"))

  private val phashDocsSql =
    """SELECT CAST(doc_id AS BIGINT) AS id,
      |       xor((doc_id // 10) * 2654435761 % 4294967296, doc_id % 10) AS bits
      |FROM documents""".stripMargin

  /** chain edges: a -> a+1 for doc_id % 10 in {0,1,2} -> components of
    * size 4 ({10m, 10m+1, 10m+2, 10m+3}) plus singletons.
    */
  private def chainEdges(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 10 < 3)
      .select(col("doc_id").cast("long").as("a"), (col("doc_id") + 1).cast("long").as("b"))

  /** Integer-valued vectors derived deterministically from vec_id:
    * component j = floorMod(mix64(id*131 + j), 17) - 8 (as doubles).
    * Integer dot products are exact in IEEE doubles AND in DuckDB BIGINT
    * arithmetic, which makes the ANN-LSH path fully oracle-checkable
    * (OracleSqlGen.annLshTopKSql reimplements this derivation).
    */
  val AnnDim = 16
  val AnnTables = 4
  val AnnPlaneBits = 4

  private[graft] def intVecs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("id")).as[Long]
      .map(id => (id, Array.tabulate(AnnDim)(j =>
        (Math.floorMod(graft.functions.PolyHash.mix64(id * 131L + j), 17) - 8).toDouble)))
      .toDF("id", "vec")
  }

  /** intVecs with planted near-duplicates: every id % 10 == 9 vector is
    * id-9's base vector with +1 on component 0 (cosine ~0.997) -- the
    * embedding-cosine near-dup fixture, mirrored exactly in
    * OracleSqlGen.embNearDupPairsSql.
    */
  private def plantedVecs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("id")).as[Long]
      .map { id =>
        val eid = if (id % 10 == 9) id - 9 else id
        (id, Array.tabulate(AnnDim) { j =>
          val base = Math.floorMod(graft.functions.PolyHash.mix64(eid * 131L + j), 17) - 8
          (base + (if (id % 10 == 9 && j == 0) 1 else 0)).toDouble
        })
      }
      .toDF("id", "vec")
  }

  // ---- substring-dedup oracle SQL (naive transcription) ----

  private def removeRangesOracle(docsSql: String): String =
    s"""WITH docs AS ($docsSql),
       |pos AS (
       |  SELECT k, text, unnest(generate_series(0, length(text) - $MinLen)) AS pos
       |  FROM docs WHERE length(text) >= $MinLen
       |),
       |ranked AS (
       |  SELECT k, pos,
       |         row_number() OVER (PARTITION BY substr(text, pos + 1, $MinLen) ORDER BY k, pos) AS rn
       |  FROM pos
       |),
       |removable AS (SELECT k, pos FROM ranked WHERE rn > 1),
       |flagged AS (
       |  SELECT k, pos,
       |         CASE WHEN lag(pos) OVER (PARTITION BY k ORDER BY pos) IS NULL
       |                OR pos > lag(pos) OVER (PARTITION BY k ORDER BY pos) + $MinLen
       |              THEN 1 ELSE 0 END AS brk
       |  FROM removable
       |),
       |isl AS (
       |  SELECT k, pos, sum(brk) OVER (PARTITION BY k ORDER BY pos) AS island FROM flagged
       |)
       |SELECT k, CAST(min(pos) AS BIGINT) AS s, CAST(max(pos) + $MinLen AS BIGINT) AS e
       |FROM isl GROUP BY k, island""".stripMargin

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    SubstringDedup.removeRanges(
      docsWithDups(spark, "/root/testdata/sf0.001"), SubstringDedup.Config(MinLen))

  // ---- queries ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1 + A4 + E1: production remove-ranges plan (sort-scan keeper
    // detection + byte verification of every candidate, fused into the
    // run scan at minLen 32). Differential vs a2's bare hash-trusted
    // sort-scan and, in SubstringDedupSpec, vs a brute-force oracle.
    "a1_remove_ranges" -> ((s, dir) =>
      SubstringDedup.removeRanges(docsWithDups(s, dir), SubstringDedup.Config(MinLen))),

    // A2 + F1: the same sort-scan with verification off, trusting the
    // 122-bit window hash (differential plan, same oracle).
    "a2_remove_ranges_sortscan" -> ((s, dir) =>
      SubstringDedup.removeRanges(docsWithDups(s, dir),
        SubstringDedup.Config(MinLen, verifyBytes = false))),

    // A8 full-fidelity sibling: remove-ranges answered from the ONE-TIME
    // suffix index (one range sort of packed 32-byte prefixes; build once,
    // query any minLen <= maxDepth -- the reference's index-reuse
    // semantics, README.md:44-48); same oracle as a1/a2.
    "sa_index_remove_ranges" -> ((s, dir) => {
      val idx = SuffixIndex.build(docsWithDups(s, dir),
        SuffixIndex.Config(maxDepth = 32, parts = 32))
      // minLen == the index's maxDepth -> the per-row lcp filter (no
      // layout probe / keeper join)
      SuffixIndex.removeRanges(idx, MinLen)
    }),

    // C2: token-unit substring dedup -- minLen counted in whitespace
    // tokens over rolling 61-bit token-id hashes, token-exact verified
    // (the reference's u16/u32 tokenized-indexing surface).
    "a1_remove_ranges_tokens" -> ((s, dir) =>
      SubstringDedup.removeRangesTokens(docsWithDups(s, dir), MinLenTok)),

    // C2 --reversed: the mirrored-stream scan (suffix duplication);
    // positions are reversed-stream token offsets.
    "a1_remove_ranges_tokens_rev" -> ((s, dir) =>
      SubstringDedup.removeRangesTokens(docsWithDups(s, dir), MinLenTok, reversed = true)),

    // C2 --unit ids: dedup over a PRE-TOKENIZED id stream (the
    // reference's production mode: vocab applied upstream, engine sees
    // u16/u32 ids). The fixture plants a deterministic id per token
    // (length + 256*ascii(first char)) computable identically in DuckDB;
    // duplicated text runs therefore carry duplicated id runs, and any
    // extra collisions the lossy mapping introduces are seen IDENTICALLY
    // by both engines -- ids mode dedups whatever ids it is handed.
    "a1_remove_ranges_ids" -> ((s, dir) =>
      SubstringDedup.removeRangesIds(docsWithIdTokens(s, dir), MinLenTok)),

    // A6: dup-ptr enumeration with dropped flags.
    "a6_dup_ptrs" -> ((s, dir) =>
      SubstringDedup.dupPtrs(docsWithDups(s, dir), SubstringDedup.Config(MinLen))),

    // A7: dup-doc assembly -- per-doc aggregation of dropped pointers.
    "a7_dup_docs" -> ((s, dir) =>
      SubstringDedup.dupPtrs(docsWithDups(s, dir), SubstringDedup.Config(MinLen))
        .where(col("dropped"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_ptrs"),
          min(col("pos")).as("min_pos"), max(col("pos")).as("max_pos"))),

    // A7 full: dup-doc assembly with the actual text slices per pointer
    // (the reference DupDoc payload feeding the B10 renderer).
    "a7_dup_doc_slices" -> ((s, dir) =>
      SubstringDedup.dupDocSlices(docsWithDups(s, dir), SubstringDedup.Config(MinLen))),

    // E5: corpus-level removal stats (diff-ratio metrics).
    "e5_removed_ratio" -> ((s, dir) => {
      val docs = docsWithDups(s, dir)
      val ranges = SubstringDedup.removeRanges(docs, SubstringDedup.Config(MinLen))
      val per = ranges.groupBy("k").agg(sum(col("e") - col("s")).as("rb"))
      docs.join(per, Seq("k"), "left")
        .agg(
          count(lit(1)).as("n_docs"),
          count(col("rb")).as("n_docs_removed"),
          coalesce(sum(col("rb")), lit(0L)).as("removed_bytes"),
          sum(length(col("text"))).cast("long").as("total_bytes"))
        .withColumn("ratio",
          round(col("removed_bytes").cast("double") / col("total_bytes"), 6))
    }),

    // E1 + C6: exact document dedup, first-occurrence keep.
    "e1_exact_dedup" -> ((s, dir) =>
      ExactDedup.flag(docsWithDups(s, dir), "text")),

    // E2: unigram counts.
    "e2_unigram_counts" -> ((s, dir) =>
      TextStats.unigramCounts(baseDocs(s, dir))),

    // C15 + E5: per-doc stats.
    "text_doc_stats" -> ((s, dir) =>
      TextStats.docStats(baseDocs(s, dir))),

    // quality scoring over doc stats.
    "text_quality" -> ((s, dir) =>
      TextStats.qualityScore(baseDocs(s, dir)).select("k", "quality")),

    // language-ID heuristic (dictionary scores + argmax).
    "text_lang_id" -> ((s, dir) =>
      TextStats.langId(baseDocs(s, dir))),

    // min-shingle document fingerprint.
    "text_fingerprint" -> ((s, dir) =>
      TextStats.minShingleFingerprint(baseDocs(s, dir), ShingleN)),

    // winnowing fingerprints over the rolling hash (MOSS algorithm).
    "text_winnow_fp" -> ((s, dir) =>
      TextStats.winnowFingerprints(asciiGuard(baseDocs(s, dir)), 8, 4)),

    // fingerprint-collision candidate pairs -- winnowing as a dedup
    // primitive: docs sharing >= 1 selected fingerprint, with the shared
    // count (the MOSS match-detection join). Self-join on the narrow
    // (k, fp) table only, never on documents. n=24 so a collision means a
    // real >= 24-char shared run, not a common English fragment -- at
    // n=8 the join degenerates toward all-pairs.
    "winnow_candidate_pairs" -> ((s, dir) => {
      // hot-bucket prune (cap 10000) before the self-join: a fp bucket
      // beyond the cap is boilerplate whose self-join would go quadratic
      // at corpus scale (TextStats.pruneHotFingerprints; same guard as
      // MinHashLSH's maxBucketSize). The driver fixture has no bucket
      // anywhere near the cap, so the result -- and the oracle -- is
      // unchanged (oracle compatibility verified by the driver's hash).
      val fp = TextStats.pruneHotFingerprints(
        TextStats.winnowFingerprints(asciiGuard(docsWithDups(s, dir)), 24, 8),
        10000L)
      fp.as("x").join(fp.as("y"),
          col("x.fp") === col("y.fp") && col("x.k") < col("y.k"))
        .groupBy(col("x.k").as("a"), col("y.k").as("b"))
        .agg(count(lit(1)).as("n_shared"))
    }),

    // token counting, whitespace + BPE-ish regex pre-tokenization.
    "text_token_counts" -> ((s, dir) =>
      baseDocs(s, dir).select(col("k"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_ws"),
        size(TextStats.regexTokens(col("text"))).cast("long").as("n_regex"))),

    // exact word-3-gram Jaccard near-dup pairs (prefix-filtered, no LSH).
    "jaccard_pairs_exact" -> ((s, dir) =>
      NgramJaccard.wordPairs(docsWithNearDups(s, dir), 3, 0.8)),

    // E6: MinHash signature components (exact DuckDB bit-arithmetic oracle).
    "e6_minhash_sigs" -> ((s, dir) =>
      MinHashLSH.signatures(lshDocs(s, dir), lshOracleCfg)
        .select(col("k"), posexplode(col("sig")))
        .select(col("k"), col("pos").cast("int").as("i"), col("col").as("sig"))),

    // D7: LSH band table (k, band, band_hash).
    "d7_lsh_band_table" -> ((s, dir) =>
      MinHashLSH.bandTable(lshDocs(s, dir), lshOracleCfg)),

    // D7: LSH band-bucket candidate self-join.
    "d7_lsh_candidates" -> ((s, dir) =>
      MinHashLSH.candidatePairs(lshDocs(s, dir), lshOracleCfg)),

    // D7 + E6: candidates verified with exact shingle Jaccard.
    "d7_lsh_verified" -> ((s, dir) =>
      MinHashLSH.verifiedPairs(lshDocs(s, dir), lshOracleCfg, 0.6)),

    // SimHash 64-bit fingerprints over char-5-gram bags.
    "simhash_values" -> ((s, dir) =>
      SimHash.simhashes(asciiGuard(baseDocs(s, dir)).where(length(col("text")) >= 5), 5)),

    // 2.J SQL surface: the same fingerprints computed from PLAIN SQL via
    // the session-extension-registered native expression (graft_simhash64,
    // functions/Native.scala) -- proves the FunctionRegistry path end-to-
    // end inside the driver gate, same oracle as simhash_values.
    "simhash_values_sql" -> ((s, dir) => {
      asciiGuard(baseDocs(s, dir)).where(length(col("text")) >= 5)
        .createOrReplaceTempView("graft_simhash_in")
      s.sql("SELECT k, graft_simhash64(encode(text, 'UTF-8'), 5) AS simhash" +
        " FROM graft_simhash_in")
    }),

    // D8: Hamming-radius pairs via pigeonhole banding (pairs() dispatches
    // by measured size/skew; at fixture size that is the flat plan).
    "d8_hamming_pairs" -> ((s, dir) =>
      Hamming.pairs(phashDocs(s, dir), 4)),

    // D8 differential: the 1e9-scale two-level plan pinned explicitly,
    // against the same brute-force oracle.
    "d8_hamming_pairs_2lvl" -> ((s, dir) =>
      Hamming.pairsTwoLevel(phashDocs(s, dir), 4)),

    // D9: connected components (large-star/small-star).
    "d9_connected_components" -> ((s, dir) =>
      ConnectedComponents.assign(
        s.read.parquet(s"$dir/documents.parquet").select(col("doc_id").as("id")),
        chainEdges(s, dir))),

    // B4: running byte offsets per shard (source).
    "b4_running_offsets" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("k")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("k"), col("source"), length(col("text")).as("len"))
        .withColumn("off", coalesce(sum(col("len")).over(w), lit(0L)).cast("long"))
        .select("k", "source", "off")
    }),

    // D1: point-in-interval (ptr -> doc) via bucketed range join.
    "d1_range_join" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("k")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("k"), col("source"), length(col("text")).cast("long").as("len"))
        .withColumn("s", coalesce(sum(col("len")).over(w), lit(0L)).cast("long"))
        .withColumn("e", (col("s") + col("len")))
        .select("k", "source", "s", "e")
      val totals = docs.groupBy("source").agg(max(col("e")).as("total"))
      val points = totals.select(col("source"),
        explode(sequence(lit(0L), col("total") - 1, lit(97L))).as("p"))
      RangeJoin.pointInInterval(points, docs, 256L, Seq("source"))
        .select(col("source"), col("p"), col("k"))
    }),

    // E4 + C15: kept-in-the-middle lengths histogram (log2 buckets).
    "e4_kept_middle_hist" -> ((s, dir) => {
      val ranges = SubstringDedup.removeRanges(docsWithSplitDups(s, dir), SubstringDedup.Config(MinLen))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("s")
      ranges
        .withColumn("next_s", lead(col("s"), 1).over(w))
        .where(col("next_s").isNotNull)
        .select((col("next_s") - col("e")).as("len"))
        .where(col("len") > 0)
        .select((length(bin(col("len"))) - 1).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    }),

    // ANN: brute-force cosine top-10 for the first 5 vectors.
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      AnnCosine.bruteTopK(
        emb.where(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        emb.select(col("vec_id").as("id"), col("embedding").as("vec")), 10)
        .select("qid", "id", "rn")
    }),

    // ANN scale path: sign-LSH bucketed candidates + exact re-rank, over
    // integer-valued vectors derived from vec_id with integer hyperplanes
    // so every sign bit and every re-rank comparison is exactly
    // reproducible in DuckDB -> full rows+schema+hash oracle (round-2
    // verdict item 3). Recall of the float-plane path vs bruteTopK on the
    // real embeddings is asserted in PipelineSpec.
    "ann_lsh_topk" -> ((s, dir) => {
      val vecs = intVecs(s, dir)
      AnnCosine.lshTopKInt(
        vecs.where(col("id") < 5).select(col("id").as("qid"), col("vec")),
        vecs.select(col("id"), col("vec")),
        10, AnnDim, tables = AnnTables, planeBits = AnnPlaneBits)
        .select("qid", "id", "rn")
    }),

    // ANN scale path #2: IVF (inverted-file) cell partitioning --
    // integer-re-quantized coarse centroids trained DISTRIBUTED (sampled
    // deterministic init + 2 Lloyd rounds as (cell, j) aggregations),
    // nProbe-cell candidate generation, exact re-rank; same
    // integer-exactness contract as ann_lsh_topk, so the full result
    // (including the trained quantizer) has a DuckDB oracle.
    "ann_ivf_topk" -> ((s, dir) => {
      val vecs = intVecs(s, dir)
      AnnCosine.ivfTopKInt(
        vecs.where(col("id") < 5).select(col("id").as("qid"), col("vec")),
        vecs.select(col("id"), col("vec")),
        10, nCells = 64, nProbe = 4, rounds = 2)
        .select("qid", "id", "rn")
    }),

    // Embedding-cosine near-dup pairs -- the dedup-flavored ANN use:
    // bucket-collision candidates (no cross product), exact cosine >=
    // threshold re-check, over the planted integer corpus (full oracle).
    "emb_neardup_pairs" -> ((s, dir) =>
      AnnCosine.nearDupPairsInt(plantedVecs(s, dir), 0.9,
        AnnDim, AnnTables, AnnPlaneBits)),

    // A9: index-order verification -- non-decreasing keys within every
    // sorted partition + byte homogeneity of every same-key run. The
    // operator's CONTRACT is an empty result (reference
    // verify_sa_correctness, cpp_engine_dedup.h:914-930); the oracle is
    // the empty set with the same schema.
    "a9_order_violations" -> ((s, dir) =>
      SubstringDedup.windowOrderViolations(docsWithDups(s, dir), MinLen)),

    // D9 differential: the distributed large-star/small-star path itself
    // (threshold 0 disables the small-graph driver union-find shortcut),
    // against the same recursive-SQL oracle.
    "d9_cc_distributed" -> ((s, dir) =>
      ConnectedComponents.assign(
        s.read.parquet(s"$dir/documents.parquet").select(col("doc_id").as("id")),
        chainEdges(s, dir), smallGraphThreshold = 0L)),

    // windowed event aggregation (shared batch/streaming transform).
    "stream_window_counts" -> ((s, dir) =>
      graft.streaming.EventStream.windowCounts(s.read.parquet(s"$dir/events.parquet"))),

    // broadcast-join + agg sanity (revenue per nation).
    "q3_join_agg" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"), count(lit(1)).as("n_orders"))
    }),

    // TPC-H Q1-ish aggregation baseline.
    "q1_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice")).cast("double").as("sum_price"),
          count(lit(1)).as("n"))),
  )

  // ---- DuckDB oracles ----

  /** Winnowing CTEs ending in fps(k, fp): char n-gram polyhash61 + sliding
    * min over w hashes + distinct -- the SQL mirror of
    * TextStats.winnowFingerprints. NOTE: hashes CHARACTER code points
    * (ord over substr), so it agrees with the byte-hashing Spark operator
    * only on ASCII text -- the queries using it wrap their input in
    * `asciiGuard` to make that contract explicit and loud.
    */
  private def winnowCtes(docsSql: String, n: Int, w: Int): String =
    s"""docs AS (SELECT k, text FROM ($docsSql) WHERE length(text) >= $n),
       |grams AS (SELECT k, i, substr(text, i, $n) AS g
       |          FROM (SELECT k, text, unnest(generate_series(1, length(text) - ${n - 1})) AS i FROM docs)),
       |wh AS (SELECT k, i, list_reduce(list_prepend(0::HUGEINT, list_transform(range(1, length(g)+1), x -> ord(substr(g, x, 1))::HUGEINT)), (h, c) -> (h * 131 + c) % 2305843009213693951) AS h FROM grams),
       |wins AS (SELECT k, CAST(min(h) OVER (PARTITION BY k ORDER BY i ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS BIGINT) AS fp FROM wh),
       |fps AS (SELECT DISTINCT k, fp FROM wins)""".stripMargin

  /** Token-unit remove-ranges oracle over any token-stream expression
    * (`wsExpr` yields the DuckDB list the Spark side tokenizes to --
    * forward or list_reverse'd).
    */
  private def tokenRangesOracle(wsExpr: String): String =
    s"""WITH docs AS ($docsWithDupsSql),
       |tok AS (SELECT k, $wsExpr AS ws FROM docs),
       |pos AS (
       |  SELECT k, ws, unnest(generate_series(0, len(ws) - $MinLenTok)) AS pos
       |  FROM tok WHERE len(ws) >= $MinLenTok
       |),
       |keyed AS (
       |  SELECT k, pos, array_to_string(list_slice(ws, pos + 1, pos + $MinLenTok), ' ') AS w
       |  FROM pos
       |),
       |ranked AS (
       |  SELECT k, pos, row_number() OVER (PARTITION BY w ORDER BY k, pos) AS rn FROM keyed
       |),
       |removable AS (SELECT k, pos FROM ranked WHERE rn > 1),
       |flagged AS (
       |  SELECT k, pos,
       |         CASE WHEN lag(pos) OVER (PARTITION BY k ORDER BY pos) IS NULL
       |                OR pos > lag(pos) OVER (PARTITION BY k ORDER BY pos) + $MinLenTok
       |              THEN 1 ELSE 0 END AS brk
       |  FROM removable
       |),
       |isl AS (
       |  SELECT k, pos, sum(brk) OVER (PARTITION BY k ORDER BY pos) AS island FROM flagged
       |)
       |SELECT k, CAST(min(pos) AS BIGINT) AS s, CAST(max(pos) + $MinLenTok AS BIGINT) AS e
       |FROM isl GROUP BY k, island""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "a1_remove_ranges" -> removeRangesOracle(docsWithDupsSql),
    "a2_remove_ranges_sortscan" -> removeRangesOracle(docsWithDupsSql),
    "sa_index_remove_ranges" -> removeRangesOracle(docsWithDupsSql),

    // token-window equality expressed as equality of the space-joined
    // token slice (tokens are split on ' ', so the join is unambiguous)
    "a1_remove_ranges_tokens" ->
      tokenRangesOracle("list_filter(string_split(text, ' '), t -> t <> '')"),

    "a1_remove_ranges_tokens_rev" ->
      tokenRangesOracle("list_reverse(list_filter(string_split(text, ' '), t -> t <> ''))"),

    // ids mode: same window/coalesce chain over the planted id stream
    // (ids as decimal strings -- equality of id windows is equality of
    // their space-joined string forms)
    "a1_remove_ranges_ids" -> tokenRangesOracle(idTokensSqlExpr),

    "a6_dup_ptrs" ->
      s"""WITH docs AS ($docsWithDupsSql),
         |pos AS (
         |  SELECT k, text, unnest(generate_series(0, length(text) - $MinLen)) AS pos
         |  FROM docs WHERE length(text) >= $MinLen
         |),
         |ranked AS (
         |  SELECT k, pos,
         |         row_number() OVER (PARTITION BY substr(text, pos + 1, $MinLen) ORDER BY k, pos) AS rn,
         |         count(*) OVER (PARTITION BY substr(text, pos + 1, $MinLen)) AS c
         |  FROM pos
         |)
         |SELECT k, CAST(pos AS BIGINT) AS pos, rn > 1 AS dropped FROM ranked WHERE c > 1""".stripMargin,

    "a7_dup_docs" ->
      s"""WITH docs AS ($docsWithDupsSql),
         |pos AS (
         |  SELECT k, text, unnest(generate_series(0, length(text) - $MinLen)) AS pos
         |  FROM docs WHERE length(text) >= $MinLen
         |),
         |ranked AS (
         |  SELECT k, pos,
         |         row_number() OVER (PARTITION BY substr(text, pos + 1, $MinLen) ORDER BY k, pos) AS rn
         |  FROM pos
         |)
         |SELECT k, count(*) AS n_ptrs,
         |       CAST(min(pos) AS BIGINT) AS min_pos, CAST(max(pos) AS BIGINT) AS max_pos
         |FROM ranked WHERE rn > 1 GROUP BY k""".stripMargin,

    "a7_dup_doc_slices" ->
      s"""WITH docs AS ($docsWithDupsSql),
         |pos AS (
         |  SELECT k, text, unnest(generate_series(0, length(text) - $MinLen)) AS pos
         |  FROM docs WHERE length(text) >= $MinLen
         |),
         |ranked AS (
         |  SELECT k, text, pos,
         |         row_number() OVER (PARTITION BY substr(text, pos + 1, $MinLen) ORDER BY k, pos) AS rn,
         |         count(*) OVER (PARTITION BY substr(text, pos + 1, $MinLen)) AS c
         |  FROM pos
         |)
         |SELECT k, CAST(pos AS BIGINT) AS pos, rn > 1 AS dropped,
         |       substr(text, pos + 1, $MinLen) AS snippet
         |FROM ranked WHERE c > 1""".stripMargin,

    "e5_removed_ratio" ->
      s"""WITH ranges AS (${removeRangesOracle(docsWithDupsSql)}),
         |docs AS ($docsWithDupsSql),
         |per AS (SELECT k, sum(e - s) AS rb FROM ranges GROUP BY k)
         |SELECT count(*) AS n_docs,
         |       count(rb) AS n_docs_removed,
         |       CAST(coalesce(sum(rb), 0) AS BIGINT) AS removed_bytes,
         |       CAST(sum(length(text)) AS BIGINT) AS total_bytes,
         |       round(CAST(coalesce(sum(rb), 0) AS DOUBLE) / sum(length(text)), 6) AS ratio
         |FROM docs LEFT JOIN per USING (k)""".stripMargin,

    "e1_exact_dedup" ->
      s"""WITH docs AS ($docsWithDupsSql)
         |SELECT k, min(k) OVER (PARTITION BY text) AS keeper,
         |       k <> min(k) OVER (PARTITION BY text) AS is_dup
         |FROM docs""".stripMargin,

    "e2_unigram_counts" ->
      """SELECT token, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
        |) WHERE token <> '' GROUP BY token""".stripMargin,

    "text_doc_stats" ->
      """WITH toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS k, text,
        |         list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents
        |)
        |SELECT k,
        |  CAST(len(ts) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
        |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / greatest(len(ts), 1), 6) AS mean_tok_len,
        |  round(CAST(len(list_filter(ts, t -> t IN ('the','a','an','and','of','to','in','is'))) AS DOUBLE)
        |        / greatest(len(ts), 1), 6) AS stopword_ratio
        |FROM toks""".stripMargin,

    "text_quality" ->
      """WITH toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS k,
        |         list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents
        |)
        |SELECT k,
        |  round(least(CAST(len(ts) AS DOUBLE) / 64.0, 1.0) * 0.4
        |      + CAST(len(list_distinct(ts)) AS DOUBLE) / greatest(len(ts), 1) * 0.4
        |      + least(round(CAST(len(list_filter(ts, t -> t IN ('the','a','an','and','of','to','in','is'))) AS DOUBLE)
        |              / greatest(len(ts), 1), 6) * 4.0, 1.0) * 0.2, 6) AS quality
        |FROM toks""".stripMargin,

    "text_lang_id" ->
      """WITH toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS k,
        |         list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        |  FROM documents
        |),
        |scored AS (
        |  SELECT k,
        |    CAST(len(list_filter(ts, t -> t IN ('the','and','of','to','a','in'))) AS BIGINT) AS score_en,
        |    CAST(len(list_filter(ts, t -> t IN ('el','la','de','que','y','los'))) AS BIGINT) AS score_es,
        |    CAST(len(list_filter(ts, t -> t IN ('der','die','und','das','ist','von'))) AS BIGINT) AS score_de,
        |    CAST(len(list_filter(ts, t -> t IN ('le','la','et','les','des','une'))) AS BIGINT) AS score_fr
        |  FROM toks
        |)
        |SELECT k,
        |  CASE greatest(score_en, score_es, score_de, score_fr)
        |    WHEN 0 THEN 'und'
        |    WHEN score_en THEN 'en'
        |    WHEN score_es THEN 'es'
        |    WHEN score_de THEN 'de'
        |    ELSE 'fr' END AS pred_lang,
        |  score_en, score_es, score_de, score_fr
        |FROM scored""".stripMargin,

    "text_fingerprint" ->
      s"""SELECT k, min(substr(text, i, $ShingleN)) AS fp FROM (
         |  SELECT CAST(doc_id AS BIGINT) AS k, text,
         |         unnest(generate_series(1, length(text) - ${ShingleN - 1})) AS i
         |  FROM documents WHERE length(text) >= $ShingleN
         |) GROUP BY k
         |UNION ALL
         |SELECT CAST(doc_id AS BIGINT) AS k, text AS fp
         |FROM documents WHERE length(text) < $ShingleN""".stripMargin,

    "text_winnow_fp" ->
      s"""WITH ${winnowCtes("SELECT CAST(doc_id AS BIGINT) AS k, text FROM documents", 8, 4)}
         |SELECT k, fp FROM fps""".stripMargin,

    "winnow_candidate_pairs" ->
      s"""WITH ${winnowCtes(docsWithDupsSql, 24, 8)}
         |SELECT x.k AS a, y.k AS b, count(*) AS n_shared
         |FROM fps x JOIN fps y ON x.fp = y.fp AND x.k < y.k
         |GROUP BY x.k, y.k""".stripMargin,

    "text_token_counts" ->
      """SELECT CAST(doc_id AS BIGINT) AS k,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_ws,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS n_regex
        |FROM documents""".stripMargin,

    "jaccard_pairs_exact" ->
      s"""WITH docs AS ($docsWithNearDupsSql),
         |sh AS (
         |  SELECT DISTINCT k, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g FROM (
         |    SELECT k, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM (
         |      SELECT k, list_filter(string_split(text, ' '), t -> t <> '') AS ws FROM docs
         |    ) WHERE len(ws) >= 3
         |  )
         |),
         |sizes AS (SELECT k, count(*) AS sz FROM sh GROUP BY k),
         |inter AS (
         |  SELECT x.k AS a, y.k AS b, count(*) AS i
         |  FROM sh x JOIN sh y ON x.g = y.g AND x.k < y.k
         |  GROUP BY x.k, y.k
         |)
         |SELECT a, b, round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jacc
         |FROM inter JOIN sizes sa ON inter.a = sa.k JOIN sizes sb ON inter.b = sb.k
         |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8""".stripMargin,

    "e6_minhash_sigs" -> OracleSqlGen.minhashSigsSql(docsWithNearDupsSql, lshOracleCfg),
    "d7_lsh_band_table" -> OracleSqlGen.bandTableSql(docsWithNearDupsSql, lshOracleCfg),
    "d7_lsh_candidates" -> OracleSqlGen.candidatePairsSql(docsWithNearDupsSql, lshOracleCfg),
    "d7_lsh_verified" -> OracleSqlGen.verifiedPairsSql(docsWithNearDupsSql, lshOracleCfg, 0.6),
    "simhash_values" -> OracleSqlGen.simhashSql(
      "SELECT CAST(doc_id AS BIGINT) AS k, text FROM documents WHERE length(text) >= 5", 5),
    "simhash_values_sql" -> OracleSqlGen.simhashSql(
      "SELECT CAST(doc_id AS BIGINT) AS k, text FROM documents WHERE length(text) >= 5", 5),

    "d8_hamming_pairs" ->
      s"""WITH ph AS ($phashDocsSql)
         |SELECT x.id AS a, y.id AS b,
         |       CAST(bit_count(xor(x.bits, y.bits)) AS INT) AS dist
         |FROM ph x JOIN ph y ON x.id < y.id
         |WHERE bit_count(xor(x.bits, y.bits)) <= 4""".stripMargin,

    "d8_hamming_pairs_2lvl" ->
      s"""WITH ph AS ($phashDocsSql)
         |SELECT x.id AS a, y.id AS b,
         |       CAST(bit_count(xor(x.bits, y.bits)) AS INT) AS dist
         |FROM ph x JOIN ph y ON x.id < y.id
         |WHERE bit_count(xor(x.bits, y.bits)) <= 4""".stripMargin,

    "d9_connected_components" ->
      """WITH RECURSIVE edges AS (
        |  SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id + 1 AS BIGINT) AS b
        |  FROM documents WHERE doc_id % 10 < 3
        |),
        |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
        |nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |walk AS (
        |  SELECT id AS src, id AS reach FROM nodes
        |  UNION
        |  SELECT w.src, e.b FROM walk w JOIN sym e ON w.reach = e.a
        |)
        |SELECT src AS id, min(reach) AS comp FROM walk GROUP BY src""".stripMargin,

    "b4_running_offsets" ->
      """SELECT CAST(doc_id AS BIGINT) AS k, source,
        |  CAST(coalesce(sum(length(text)) OVER (
        |    PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |FROM documents""".stripMargin,

    "d1_range_join" ->
      """WITH docs AS (
        |  SELECT CAST(doc_id AS BIGINT) AS k, source,
        |    CAST(coalesce(sum(length(text)) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s,
        |    CAST(coalesce(sum(length(text)) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + length(text) AS BIGINT) AS e
        |  FROM documents
        |),
        |totals AS (SELECT source, max(e) AS total FROM docs GROUP BY source),
        |points AS (
        |  SELECT source, unnest(generate_series(0, total - 1, 97)) AS p FROM totals
        |)
        |SELECT p.source, CAST(p.p AS BIGINT) AS p, d.k
        |FROM points p JOIN docs d ON p.source = d.source AND p.p >= d.s AND p.p < d.e""".stripMargin,

    "e4_kept_middle_hist" ->
      s"""WITH ranges AS (${removeRangesOracle(docsWithSplitDupsSql)}),
         |mids AS (
         |  SELECT lead(s) OVER (PARTITION BY k ORDER BY s) - e AS len FROM ranges
         |)
         |SELECT CAST(length(bin(len)) - 1 AS BIGINT) AS bucket, count(*) AS cnt
         |FROM mids WHERE len IS NOT NULL AND len > 0 GROUP BY 1""".stripMargin,

    "ann_lsh_topk" ->
      OracleSqlGen.annLshTopKSql(5, AnnDim, AnnTables, AnnPlaneBits, 10),

    "ann_ivf_topk" ->
      OracleSqlGen.ivfTopKSql(5, AnnDim, 64, 4, 10, rounds = 2),

    "emb_neardup_pairs" ->
      OracleSqlGen.embNearDupPairsSql(AnnDim, AnnTables, AnnPlaneBits, 0.9),

    "a9_order_violations" ->
      """SELECT CAST(NULL AS BIGINT) AS k, CAST(NULL AS BIGINT) AS pos,
        |       CAST(NULL AS VARCHAR) AS violation
        |WHERE false""".stripMargin,

    "d9_cc_distributed" ->
      """WITH RECURSIVE edges AS (
        |  SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id + 1 AS BIGINT) AS b
        |  FROM documents WHERE doc_id % 10 < 3
        |),
        |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
        |nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |walk AS (
        |  SELECT id AS src, id AS reach FROM nodes
        |  UNION
        |  SELECT w.src, e.b FROM walk w JOIN sym e ON w.reach = e.a
        |)
        |SELECT src AS id, min(reach) AS comp FROM walk GROUP BY src""".stripMargin,

    "ann_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings)
        |SELECT qid, id,
        |       CAST(row_number() OVER (PARTITION BY qid
        |         ORDER BY list_cosine_similarity(qv, cv) DESC, id) AS INT) AS rn
        |FROM q JOIN c ON q.qid <> c.id
        |QUALIFY rn <= 10""".stripMargin,

    "stream_window_counts" ->
      """SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M') AS win_start,
        |       event_type, count(*) AS n, round(sum(value), 6) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q3_join_agg" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        |       CAST(sum(l_extendedprice) AS DOUBLE) AS sum_price,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
  )
}
