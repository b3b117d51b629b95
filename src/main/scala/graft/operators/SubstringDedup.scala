package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, PolyHash, Utf8}

/** Exact-substring duplicate removal, Spark-first.
  *
  * Semantics (the reference contract, cpp_engine_dedup.h:215-302):
  * a byte position p=(doc k, offset o) is REMOVABLE iff the minLen-byte
  * window at p fits inside the doc and an identical window exists at some
  * position q strictly before p in (k, o) order; remove ranges are the
  * interval-union of [o, o+minLen) over removable positions, coalescing
  * overlap OR touch (h:287-291); writeback clips ranges to UTF-8 char
  * boundaries and cuts (mode=remove) or annotates (mode=annotate)
  * (write_back_to_jsonl_sharded.py:75-101).
  *
  * The reference builds a per-shard suffix array and scans adjacent ranks
  * for shared minLen prefixes. A maximal same-prefix SA run IS the equality
  * class of positions with identical minLen-byte windows, so we skip the SA
  * entirely: key every candidate position by a 122-bit rolling hash of its
  * window (O(1)/byte, PolyHash), hash-partition on the window hash, sort
  * within partitions and scan adjacent runs -- the literal distributed
  * transcription of the reference loop (h:417-472). The candidates are
  * every position at minLen <= 32 and, above it, the positions near
  * winnowing anchors that occur twice (`candidates`, with its exactness
  * proof): every occurrence of every duplicated window is among them.
  *
  * Like the reference, which templates one engine over its unit type
  * (u8 bytes / u16, u32 token ids, h:70-77), the three units -- bytes,
  * whitespace tokens and pre-tokenized ids -- run ONE spine: windows, the
  * run scan, verification, `coalesceRanges`. A `SeqUnit` supplies only the
  * unit's sequence column and the slice key its verification compares.
  * Candidates are optionally re-verified against the actual window
  * (`verifyBytes`) so a hash collision can never remove a non-duplicate
  * unit -- this re-extraction touches only positions inside duplicate
  * groups, not the whole corpus. The sort-scan is the only plan: the
  * hash-aggregate, hybrid-prefilter and density-adaptive alternatives
  * each measured slower at every density (BASELINE.md, round-4 negative
  * result).
  *
  * Scale notes (100 TB): at minLen <= 32 every position's window row (4
  * longs, ~28 B/position -- comparable to the reference's 8N suffix-array
  * footprint) flows through a single hash-partitioned shuffle. Above 32
  * (the reference's production minLen is 500) only the winnowing anchors
  * -- ~2/(w+1) of the positions, w = minLen - minLen/2 + 1, ~0.8% at 500
  * -- are shuffled in full; the window rows shuffled after them are those
  * within w of an anchor whose gram occurs twice, and the text pinned is
  * that of the docs holding such an anchor (`candidates`). At the
  * jsonl_m500 benchmark shape (4.65 MB of text, one doc in ten carrying a
  * planted copy) this cut the dedup's shuffle from 105.7 MB to 3.6 MB.
  * The anchor survivors and the verification corpus are broadcast, so a
  * corpus whose duplicated docs outgrow a broadcast would need a Bloom
  * filter or a shuffled join there. No stage materializes window bytes
  * except for the (small) duplicate-group verification join, which AQE
  * skew-join splits if one window is viral.
  *
  * Input contract: df(k: Long, text: String) where ascending `k` defines
  * the stable global first-occurrence order (the reference's
  * (shard, global_ptr) order, h:717-724).
  */
object SubstringDedup {

  /** `verifyPrune`: semi-join-prune the corpus side of the verification
    * joins down to the candidate doc keys (and pin both so the corpus is
    * scanned once instead of twice). Pays when one corpus scan is
    * expensive relative to a handful of extra scheduled jobs -- e.g. the
    * JSONL workflow, whose scan decompresses every shard (JsonlDedupJob
    * passes true); costs more than it saves on cheap vectorized parquet
    * scans at fixture scale. Measured round 6 (sf0.1 / 330 MB jsonl,
    * local[32]): prune ON made the parquet-backed a1 query 1.8 -> 2.5 s
    * (the extra pin/broadcast jobs dominate) while the gzip jsonl
    * workflow pass went 26.7 -> 23.0 s best-of-2 (one pruned corpus scan
    * instead of two full decompressions). Hence default off, JSONL on.
    */
  case class Config(
      minLen: Int,
      verifyBytes: Boolean = true,
      verifyPrune: Boolean = false)

  /** One dedup unit. `seq`: the doc's unit sequence, named, as the window
    * generator consumes it (GraftWindowGen dispatches on its type);
    * `reversed` mirrors the stream inside the generator. `verifySeq`: the
    * same sequence in window order, named, for the verification join, and
    * `sliceKey(posCol)`: the equality key of the window starting at that
    * position of `verifySeq`. Inline verification (window bytes ride the
    * exchange) applies to the byte unit at minLen <= 32 only.
    */
  private case class SeqUnit(source: String, seq: Column, reversed: Boolean,
                             verifySeq: Column, sliceKey: String => Column, inline: Boolean)

  /** Bytes: UTF-8 windows of `text`, verified by their raw bytes. */
  private def byteUnit(minLen: Int): SeqUnit =
    SeqUnit("text", encode(col("text"), "UTF-8").as("b"), reversed = false,
      encode(col("text"), "UTF-8").as("vb"),
      // the same exactness either way: for minLen <= 32 the raw window
      // slice is no wider than its sha2-256 digest, so the digest step is
      // pure CPU overhead -- compare the bytes themselves; above 32 the
      // digest keeps the shuffled row at a flat 32 B regardless of minLen
      posEx =>
        if (minLen <= 32) expr(s"substring(vb, $posEx + 1, $minLen)")
        else sha2(expr(s"substring(vb, $posEx + 1, $minLen)"), 256),
      inline = minLen <= 32)

  /** Whitespace tokens (reference C2): the token window is verified by the
    * sha2 digest of its NUL-joined tokens -- a 61-bit token-id collision
    * can never remove a non-duplicate window.
    */
  private def tokenUnit(minLenTok: Int, reversed: Boolean): SeqUnit = {
    // split ' ' + drop-empties matches the reference's whitespace tokens
    def toks = filter(split(col("text"), " "), t => t =!= "")
    SeqUnit("text", toks.as("ts"), reversed,
      (if (reversed) reverse(toks) else toks).as("vt"),
      posEx => sha2(encode(concat_ws("\u0000",
        slice(col("vt"), col(posEx) + 1, lit(minLenTok))), "UTF-8"), 256),
      inline = false)
  }

  /** Pre-tokenized ids (`tokens: array<int|long>`, the reference's
    * production shape): the id window is verified by the sha2 digest of
    * its comma-joined decimal ids (',' never occurs inside a decimal int,
    * so the join is injective). A null id never reaches the digest: the
    * window generator rejects it first.
    */
  private def idUnit(minLenTok: Int, reversed: Boolean): SeqUnit = {
    def ids = col("tokens").cast("array<long>")
    SeqUnit("tokens", ids.as("ids"), reversed,
      (if (reversed) reverse(ids) else ids).as("vt"),
      posEx => sha2(encode(concat_ws(",",
        transform(slice(col("vt"), col(posEx) + 1, lit(minLenTok)), _.cast("string"))),
        "UTF-8"), 256),
      inline = false)
  }

  /** One row per in-doc window position: (h1, h2, k, pos), plus the raw
    * window bytes `w` when `withBytes` (byte unit only). pos is a 0-based
    * unit offset -- over the REVERSED stream when the unit is reversed, so
    * first-occurrence keep order matches the reference's reversed scan;
    * docs shorter than minLen emit nothing (reference bounds predicate
    * h:232-233).
    */
  private def windows(docs: DataFrame, unit: SeqUnit, minLen: Int,
                      withBytes: Boolean = false): DataFrame =
    generated(docs.select(col("k").cast("long").as("k"), unit.seq),
      if (withBytes) Seq("w") else Nil)(
      GraftFunctions.windowGen(_, minLen, unit.reversed, withBytes))

  /** (h1, h2, k, pos, extra...) rows of a window generator applied to the
    * second column of `seqs(k, seq, ...)`. Native Generator
    * (functions/Native.scala GraftWindowGen): zero per-position
    * allocation and no typed serialization boundary -- null text (e.g. an
    * image row with no caption) = no windows, same as a doc shorter than
    * minLen (Generate outer=false drops the row).
    */
  private def generated(seqs: DataFrame, extra: Seq[String] = Nil)(
      gen: Column => Column): DataFrame =
    seqs
      .select(col("k"), gen(col(seqs.columns(1))).as(Seq("h1", "h2", "pos") ++ extra))
      .select((Seq("h1", "h2", "k", "pos") ++ extra).map(col): _*)

  /** Above this many units the candidate windows come from winnowing
    * anchors instead of every position (`candidates`). At and below it
    * the byte unit verifies inline, in one scan and one exchange with no
    * joins, and those plans (the minLen-32 images pipeline and SparkEntry
    * queries) stay as they are. The minLen sweep (BASELINE.md, "JSONL
    * floor") measured the anchored path faster from minLen 40, the first
    * point above the switch.
    */
  private val AnchorAbove = 32

  /** Candidate windows (h1, h2, k, pos) for the run scan, and -- above
    * `AnchorAbove` -- the pinned corpus they were generated from.
    *
    * At minLen <= 32: every window of `docs`, and no pinned corpus (the
    * caller verifies against `docs`).
    *
    * Above 32, two phases (winnowing, Schleimer/Wilkerson/Aiken,
    * SIGMOD 2003), with grams of g = minLen / 2 units and
    * w = minLen - g + 1 grams per window:
    *  1. every doc emits its winnowing anchors -- per full window, the
    *     gram of minimum hash, ties to the rightmost, each selected gram
    *     once, ~2/(w+1) of the positions (~0.8% at minLen 500) -- keyed
    *     by the gram's (h1, h2); one hash exchange + sort and the
    *     lookahead run scan (`dupMembers`, as in dupPtrs) keep the
    *     anchors whose key has >= 2 distinct (k, pos) members;
    *  2. the corpus is semi-joined down to the docs holding a surviving
    *     anchor (each carrying its anchor positions) and pinned once; the
    *     windows are those starting in [a - w + 1, a] for a surviving
    *     anchor a, merged per doc. The caller verifies against this same
    *     pinned corpus, so `docs` is scanned exactly twice.
    *
    * Exactness: let window W occur at positions q < p (any docs). Every
    * gram W's anchor selection looks at lies inside W, so the selected
    * gram sits at an offset r in [0, w - 1] that depends on W's units
    * alone; p + r and q + r are then two distinct positions emitted as
    * anchors with the same gram key, so that key survives phase 1 and
    * both occurrences' starts fall inside a generated range. Hence every
    * occurrence of every duplicated window is a candidate: its (h1, h2)
    * run is complete, the run's first member is the true (k, pos)-first
    * keeper, and the removable positions are exactly those of the
    * every-window plan. A window that occurs once forms a singleton run
    * and is never removable. Key collisions (61-bit grams or 122-bit
    * windows) add candidates only -- extra work that verification still
    * checks.
    *
    * The two phases read `docs` in two independent scans, so `docs` must
    * be deterministic (checked).
    */
  private def candidates(docs: DataFrame, unit: SeqUnit,
                         minLen: Int): (DataFrame, Option[DataFrame]) =
    if (minLen <= AnchorAbove) (windows(docs, unit, minLen), None)
    else {
      require(docs.queryExecution.analyzed.deterministic,
        "SubstringDedup: docs must be deterministic above minLen " +
          s"$AnchorAbove (deterministic-input contract): the anchored plan scans " +
          "them twice, once for the anchors and once for the candidate docs, and a " +
          "nondeterministic plan (rand(), uuid(), ...) would give the two scans " +
          "different text; checkpoint or write such input first")
      val gram = minLen / 2
      val src = docs.select(col("k").cast("long").as("k"), col(unit.source))
      val survivors = dupMembers(generated(src.select(col("k"), unit.seq))(
          GraftFunctions.anchorGen(_, minLen, gram, unit.reversed)))
        .groupBy("k").agg(collect_list(col("pos")).as("anchors"))
      val pinned = src.join(broadcast(survivors), "k").localCheckpoint(true)
      (generated(pinned.select(col("k"), unit.seq, col("anchors")))(
        GraftFunctions.windowsNear(_, col("anchors"), minLen, gram, unit.reversed)),
        Some(pinned))
    }

  /** Co-locate equal window hashes and sort them into runs.
    * HASH repartition, not range: equal (h1,h2) keys co-locate either way
    * (all we need -- the reference's run-aligned boundary rule, h:324-338),
    * but RangePartitioner runs a separate sampling job over the input,
    * i.e. a second full window-generation pass. Hash keys are uniform by
    * construction, so hash partitioning is also perfectly balanced.
    */
  private def clustered(win: DataFrame): DataFrame =
    win.repartition(col("h1"), col("h2"))
      .sortWithinPartitions("h1", "h2", "k", "pos")

  /** Adjacent-run scan over any (h1, h2, k, pos) window frame: within a
    * partition rows arrive sorted by (h1,h2,k,pos), so the first row of a
    * run is its minimum (k,pos) -- exactly the reference's
    * min_element-of-run keep rule (h:239-246). Output
    * (k, pos, keep_k, keep_pos) for every non-first run member.
    */
  private def runScan(win: DataFrame): DataFrame = {
    // MEASURED (round 6, sf0.1, min-of-2): a WindowExec variant
    // (first_value over partitionBy(h1,h2), which reuses this exact sort
    // and avoids the typed boundary) was SLOWER -- a1 1.68 -> 2.63 s,
    // five-query family total 5.35 -> 6.95 s -- because per-group window
    // machinery over ~1e8 mostly-singleton groups costs more than the
    // tuple deserialization it removes. The typed adjacent scan stays.
    val spark = win.sparkSession
    import spark.implicits._
    clustered(win)
      .select("h1", "h2", "k", "pos")
      .as[(Long, Long, Long, Long)]
      .mapPartitions { it =>
        var ph1 = 0L; var ph2 = 0L; var kk = 0L; var kp = 0L; var first = true
        it.flatMap { case (h1, h2, k, pos) =>
          val isNewRun = first || h1 != ph1 || h2 != ph2
          ph1 = h1; ph2 = h2; first = false
          if (isNewRun) { kk = k; kp = pos; None }
          else Some((k, pos, kk, kp))
        }
      }
      .toDF("k", "pos", "keep_k", "keep_pos")
  }

  /** Every member of a multi-member (h1, h2) run of a window frame:
    * (k, pos, dropped), dropped = false for the run's (k, pos)-first
    * member. Lookahead run scan over the clustered frame: a row survives
    * iff it CONTINUES its predecessor (dropped=true) or its SUCCESSOR
    * continues it (the run's first member, dropped=false); singleton runs
    * -- the vast majority -- are skipped right here. Replaced a
    * count()-over-(h1,h2)-window + row_number() pass, which ran the full
    * window frame through WindowExec's per-group buffering twice
    * (round-6 guide §2.4: same co-location, strictly less machinery).
    */
  private def dupMembers(win: DataFrame): DataFrame = {
    val spark = win.sparkSession
    import spark.implicits._
    clustered(win)
      .select("h1", "h2", "k", "pos")
      .as[(Long, Long, Long, Long)]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(Long, Long, Boolean)] {
          private var ph1 = 0L; private var ph2 = 0L; private var first = true
          private var nxt: (Long, Long, Boolean) = advance()
          @annotation.tailrec private def advance(): (Long, Long, Boolean) = {
            if (!buf.hasNext) null
            else {
              val (h1, h2, k, pos) = buf.next()
              val cont = !first && h1 == ph1 && h2 == ph2
              ph1 = h1; ph2 = h2; first = false
              if (cont) (k, pos, true)
              else if (buf.hasNext && buf.head._1 == h1 && buf.head._2 == h2)
                (k, pos, false)
              else advance()
            }
          }
          def hasNext: Boolean = nxt != null
          def next(): (Long, Long, Boolean) = { val r = nxt; nxt = advance(); r }
        }
      }
      .toDF("k", "pos", "dropped")
  }

  /** Semi-join-prune a corpus frame (doc key `corpusKey`) to the docs
    * named in the `keyCols` of `cands`: duplicate positions cluster in few
    * docs, so a broadcast semi-join against the candidates' distinct doc
    * keys drops the non-duplicate majority of the corpus before any unit
    * is shuffled or digested -- the verification joins then touch
    * O(dup docs), not O(corpus). The caller pins `cands` (it feeds the key
    * set and the join probe). At 1e9+ dup-doc scale the broadcast key set
    * would be replaced by a Bloom filter (guide §3.2 shape); doc-key
    * cardinality at the measured densities stays far under the broadcast
    * cap.
    */
  private def pruneToCandidateDocs(corpus: DataFrame, corpusKey: String,
                                   cands: DataFrame, keyCols: String*): DataFrame = {
    val keys = keyCols.map(c => cands.select(col(c).as("ck"))).reduce(_ unionAll _)
      .distinct()
    corpus.join(broadcast(keys), col(corpusKey) === col("ck"), "leftsemi")
  }

  /** Join verification of candidate pairs: re-extract the actual window
    * of both sides of each (k,pos) -> (keep_k,keep_pos) candidate and
    * demand equality of their slice keys -- the same exactness standard
    * ExactDedup applies to whole documents, and linear in the number of
    * *duplicate* positions only.
    *
    * Shuffle shape: a single linear two-join chain; each extracted window
    * is reduced to its slice key IN the join projection, so nothing
    * downstream ever carries raw windows. (Carrying raw minLen-byte
    * windows between the joins shuffled ~1 KB per candidate at the
    * reference's production minLen=500 and measured 61 s of a 110 s job;
    * a distinct-position pre-extraction table was tried and was WORSE at
    * small minLen -- it adds a union+distinct and two extra joins over
    * millions of rows.)
    *
    * With `prune` (Config.verifyPrune) the corpus side is pruned to the
    * candidate docs before either join and pinned once, so the corpus is
    * scanned ONCE here instead of twice; the caller must then pin
    * `candidates`.
    */
  private def verifyJoin(docs: DataFrame, unit: SeqUnit, candidates: DataFrame,
                         prune: Boolean): DataFrame = {
    val seqs0 = docs.select(col("k").cast("long").as("vk"), unit.verifySeq)
    val seqs = if (!prune) seqs0 else
      pruneToCandidateDocs(seqs0, "vk", candidates, "k", "keep_k").localCheckpoint(true)
    candidates
      .join(seqs, col("k") === col("vk"))
      .withColumn("wd_self", unit.sliceKey("pos"))
      .drop("vk", seqs.columns(1))
      .join(seqs, col("keep_k") === col("vk"))
      .withColumn("wd_keep", unit.sliceKey("keep_pos"))
      .where(col("wd_self") === col("wd_keep"))
      .select("k", "pos")
  }

  /** Byte-verified removable positions with the verification fused into
    * the run scan: windows carry their raw bytes through the hash
    * exchange (GraftWindowGen withBytes), and a continuing run member is
    * removable iff its bytes equal the run's FIRST member's bytes --
    * identical keeper-equality contract to `verifyJoin`, no joins.
    * Intended for minLen <= 32 (window no wider than a digest).
    */
  private def inlineVerifiedRemovable(docs: DataFrame, unit: SeqUnit,
                                      minLen: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    clustered(windows(docs, unit, minLen, withBytes = true))
      .as[(Long, Long, Long, Long, Array[Byte])]
      .mapPartitions { it =>
        var ph1 = 0L; var ph2 = 0L; var kw: Array[Byte] = null; var first = true
        it.flatMap { case (h1, h2, k, pos, w) =>
          val isNewRun = first || h1 != ph1 || h2 != ph2
          ph1 = h1; ph2 = h2; first = false
          if (isNewRun) { kw = w; None }
          else if (java.util.Arrays.equals(w, kw)) Some((k, pos))
          else None // 122-bit collision: bytes differ from the keeper's
        }
      }
      .toDF("k", "pos")
  }

  /** The spine every unit runs: candidate windows (`candidates`: every
    * window at minLen <= 32, windows near winnowing anchors above) ->
    * hash run scan -> verification (inline for bytes at minLen <= 32, the
    * join otherwise) -> `coalesceRanges`. Output (k, s, e) in unit
    * offsets.
    */
  private def spine(docs: DataFrame, unit: SeqUnit, minLen: Int,
                    verify: Boolean, prune: Boolean): DataFrame = {
    val removable =
      if (verify && unit.inline) {
        // INLINE verification (round 6): at minLen <= 32 the raw window
        // is no wider than the sha2 digest the join path would ship, so
        // carry the window bytes through the ONE hash exchange and
        // byte-compare each run member against its run's first row
        // during the scan itself -- the same candidate-vs-keeper
        // equality the digest joins computed, with zero corpus
        // re-scans, zero broadcast builds and zero joins. Above 32
        // bytes the join path below stays (inlining a 500-byte window
        // would multiply the exchange ~16x; the digests keep it flat).
        inlineVerifiedRemovable(docs, unit, minLen)
      } else {
        val (win, pinned) = candidates(docs, unit, minLen)
        // an anchored corpus already holds only the docs with a surviving
        // anchor, pinned: the joins read it directly, no further prune
        val pruneHere = prune && pinned.isEmpty
        if (!verify) runScan(win).select("k", "pos")
        else {
          // with prune, pin the (small: duplicate positions only)
          // candidate set: it feeds the doc-key prune AND the digest
          // joins in verifyJoin, and recomputing it would re-run the full
          // window sort per consumer; without the prune the chain is
          // linear and stays fully lazy
          val cand0 = runScan(win)
          val cand = if (pruneHere) cand0.localCheckpoint(true) else cand0
          verifyJoin(pinned.getOrElse(docs), unit, cand, pruneHere)
        }
      }
    coalesceRanges(removable, minLen)
  }

  /** Coalesce sorted removable positions into [s, e) ranges per doc.
    * Gaps-and-islands: all windows share length minLen, so ends are
    * monotone in pos and "overlap or touch" is simply
    * pos <= prev_pos + minLen (reference h:287-291).
    */
  def coalesceRanges(removable: DataFrame, minLen: Int): DataFrame = {
    // one exchange on k + one in-partition sorted linear merge: all
    // windows share length minLen, so ends are monotone in pos and a
    // position extends the open range iff pos <= range_end (overlap OR
    // touch). Replaces the previous lag-window + running-sum-window +
    // groupBy chain -- same exchange, but one streaming pass instead of
    // two WindowExec passes and a hash aggregate (round 6; identical
    // ranges, oracle-checked).
    val spark = removable.sparkSession
    import spark.implicits._
    removable
      .select(col("k").cast("long"), col("pos").cast("long"))
      .repartition(col("k"))
      .sortWithinPartitions("k", "pos")
      .as[(Long, Long)]
      .mapPartitions { it =>
        new Iterator[(Long, Long, Long)] {
          private var have = false
          private var ck = 0L; private var cs = 0L; private var ce = 0L
          private var pending: (Long, Long, Long) = null
          private def emitOpen(): (Long, Long, Long) = { have = false; (ck, cs, ce) }
          private def advance(): (Long, Long, Long) = {
            while (it.hasNext) {
              val (k, pos) = it.next()
              if (!have) { have = true; ck = k; cs = pos; ce = pos + minLen }
              else if (k == ck && pos <= ce) { if (pos + minLen > ce) ce = pos + minLen }
              else { val out = emitOpen(); have = true; ck = k; cs = pos; ce = pos + minLen; return out }
            }
            if (have) emitOpen() else null
          }
          pending = advance()
          def hasNext: Boolean = pending != null
          def next(): (Long, Long, Long) = { val r = pending; pending = advance(); r }
        }
      }
      .toDF("k", "s", "e")
  }

  /** Full pipeline: docs(k, text) -> remove_ranges(k, s, e), unclipped
    * byte offsets (the reference's remove_ranges file, h:294-297), with
    * byte verification of candidates when cfg.verifyBytes; with
    * verifyBytes = false the 122-bit hash equality is trusted (the bare
    * sort-scan, a2's differential plan).
    */
  def removeRanges(docs: DataFrame, cfg: Config): DataFrame =
    spine(docs, byteUnit(cfg.minLen), cfg.minLen, cfg.verifyBytes, cfg.verifyPrune)

  /** Annotate mode: original rows + sa_remove_ranges (UTF-8-clipped),
    * sorted by range start; docs without duplicates get an empty array.
    */
  def annotate(docs: DataFrame, cfg: Config): DataFrame =
    annotateWith(docs, removeRanges(docs, cfg))

  /** Annotate from an already-computed ranges table (k, s, e) -- the
    * checkpoint seam: remove_ranges is the reference workflow's resume
    * artifact between find_remove_ranges and write_back
    * (aws_workflow.sh:123-138), so callers can snapshot the narrow ranges
    * and re-enter here without re-running the dedup.
    */
  def annotateWith(docs: DataFrame, rangesTable: DataFrame): DataFrame = {
    val ranges = rangesTable
      .groupBy("k")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("raw"))
    docs
      .withColumn("k", col("k").cast("long"))
      .join(ranges, Seq("k"), "left")
      .withColumn("raw",
        coalesce(col("raw"), array().cast("array<struct<s:bigint,e:bigint>>")))
      .withColumn("sa_remove_ranges", Utf8.clip(encode(col("text"), "UTF-8"), col("raw")))
      .drop("raw")
  }

  /** Remove mode: duplicated substrings cut out of the text. */
  def remove(docs: DataFrame, cfg: Config): DataFrame =
    annotate(docs, cfg)
      .withColumn("text_deduped",
        Utf8.removeMode(encode(col("text"), "UTF-8"), col("sa_remove_ranges")))

  /** A9: index-order verification (reference verify_sa_correctness,
    * h:914-930, driven by verify_sa.py). The reference checks that
    * adjacent suffix-array ranks are non-decreasing under depth-`hack`
    * compare; our index is the (h1,h2)-sorted window frame, and the two
    * properties the dedup relies on are (a) the exchange+sort actually
    * delivers non-decreasing keys within every partition and (b) every
    * same-key run is byte-homogeneous (a 122-bit collision would merge
    * distinct windows into one run). One row per violation with a reason;
    * EMPTY OUTPUT = VERIFIED. Same cost shape as the dedup itself (full
    * window sort carrying the window bytes) -- run on fixtures/samples.
    */
  def windowOrderViolations(docs: DataFrame, minLen: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // stays on the TYPED window path (measured round 6): a
    // GraftWindowGen variant needed the doc bytes in GenerateExec's
    // required child output, and the exec's per-row unsafe projection
    // then copies the FULL doc bytes into every generated row before the
    // slice projection can drop them -- a9 1.0 -> 1.6 s. The typed scan
    // slices the 32-byte window directly.
    clustered(docs
      .select(col("k").cast("long"), encode(col("text"), "UTF-8").as("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (k, bytes) =>
          if (bytes == null) Iterator.empty
          else {
            val (h1, h2) = PolyHash.windowHashes2(bytes, minLen)
            Iterator.range(0, h1.length).map { i =>
              (h1(i), h2(i), k, i.toLong,
                java.util.Arrays.copyOfRange(bytes, i, i + minLen))
            }
          }
        }
      }
      .toDF("h1", "h2", "k", "pos", "w"))
      .as[(Long, Long, Long, Long, Array[Byte])]
      .mapPartitions { it =>
        var ph1 = 0L; var ph2 = 0L; var pw: Array[Byte] = null; var first = true
        it.flatMap { case (h1, h2, k, pos, w) =>
          val out =
            if (first) Nil
            else if (h1 < ph1 || (h1 == ph1 && h2 < ph2))
              Seq((k, pos, "sort_order"))
            else if (h1 == ph1 && h2 == ph2 && !java.util.Arrays.equals(w, pw))
              Seq((k, pos, "hash_collision"))
            else Nil
          ph1 = h1; ph2 = h2; pw = w; first = false
          out
        }
      }
      .toDF("k", "pos", "violation")
  }

  /** A7 full dup-doc assembly (reference find_dup_docs,
    * cpp_engine_dedup.h:839-867): every duplicate-group pointer joined
    * back to its document with the actual window bytes sliced out --
    * (k, pos, dropped, snippet). The reference returns each dup doc's
    * text plus per-ptr spans with kept/dropped flags for its diagnostic
    * renderer (find_dup_docs.cpp:18-68); this is that payload in flat
    * form (one row per span), feeding graft.Render for the B10 overlay.
    */
  def dupDocSlices(docs: DataFrame, cfg: Config): DataFrame = {
    // with verifyPrune: pin the (small) pointer table -- it feeds the
    // doc-key prune and the snippet join -- and semi-join-prune the
    // corpus bytes to dup docs before any text is shuffled (same shape
    // and trade-off as verifyJoin)
    // (above minLen 32 the pointers come with the pinned candidate-doc
    // corpus, which the snippet join reads instead)
    val (ptrs0, pinned) = dupPtrsAndCorpus(docs, cfg)
    val prune = cfg.verifyPrune && pinned.isEmpty
    val ptrs = if (prune) ptrs0.localCheckpoint(true) else ptrs0
    val bytesDf0 = pinned.getOrElse(docs).select(col("k").cast("long"),
      encode(col("text"), "UTF-8").as("vb"))
    val bytesDf =
      if (!prune) bytesDf0 else pruneToCandidateDocs(bytesDf0, "k", ptrs, "k")
    ptrs
      .join(bytesDf, Seq("k"))
      .select(col("k"), col("pos"), col("dropped"),
        decode(expr(s"substring(vb, pos + 1, ${cfg.minLen})"), "UTF-8").as("snippet"))
  }

  /** Token-unit remove ranges: docs(k, text) -> (k, s, e) in TOKEN
    * offsets over the (optionally reversed) whitespace token stream --
    * C2's find_remove_ranges for tokenized corpora. The reference
    * templates its whole engine over the unit type (u8 bytes / u16 gpt2 /
    * u32 llama token streams, cpp_engine_dedup.h:70-77; tokenized
    * indexing indexing_v6_sharded.py:205-218, 261-290) with min_len
    * counted in units; this is the same generalization -- the window
    * machinery rolls over 61-bit token ids instead of bytes. Token id =
    * polyhash of the token's UTF-8 bytes: a pure function of the token,
    * so no vocabulary table is built, broadcast, or synchronized (any id
    * collision is caught by token-level verification, mirroring
    * verifyBytes).
    *
    * `reversed`: the reference's --reversed indexes the mirrored stream
    * (suffix-vs-prefix duplication); windows are generated over the
    * reversed token sequence and offsets are REVERSED-stream offsets.
    */
  def removeRangesTokens(docs: DataFrame, minLenTok: Int,
                         verify: Boolean = true, reversed: Boolean = false,
                         verifyPrune: Boolean = false): DataFrame =
    spine(docs, tokenUnit(minLenTok, reversed), minLenTok, verify, verifyPrune)

  /** Pre-tokenized-id remove ranges: docs(k, tokens: array<int|long>) ->
    * (k, s, e) in TOKEN offsets over the (optionally reversed) id stream
    * -- C2's find_remove_ranges for already-tokenized corpora, the
    * reference's production input shape (indexing_v6_sharded.py:205-218
    * tokenizes with gpt2/llama vocabularies up front and the engine
    * consumes u16/u32 id streams): the vocabulary lives with the CALLER --
    * the engine never sees token text, just rolls the same 61-bit window
    * hash over the provided ids. A null id fails the job.
    */
  def removeRangesIds(docs: DataFrame, minLenTok: Int,
                      verify: Boolean = true, reversed: Boolean = false,
                      verifyPrune: Boolean = false): DataFrame =
    spine(docs, idUnit(minLenTok, reversed), minLenTok, verify, verifyPrune)

  /** Diagnostics (reference find_dup_ptrs, h:801-837): every member of a
    * duplicate group with dropped flag; the kept (first) one has
    * dropped=false.
    *
    * Verification policy matches removeRanges: with cfg.verifyBytes the
    * hash-dup rows (a tiny fraction of the corpus) are re-joined to their
    * actual window bytes and regrouped on those bytes, so a 122-bit hash
    * collision can neither create a phantom group nor misattribute the
    * dropped flag. Byte-equal windows always share (h1,h2), so regrouping
    * within the hash-dup set is exhaustive.
    */
  def dupPtrs(docs: DataFrame, cfg: Config): DataFrame = dupPtrsAndCorpus(docs, cfg)._1

  /** dupPtrs plus the pinned candidate-doc corpus of `candidates` (above
    * minLen 32), for callers that re-read window bytes.
    */
  private def dupPtrsAndCorpus(docs: DataFrame, cfg: Config): (DataFrame, Option[DataFrame]) = {
    val unit = byteUnit(cfg.minLen)
    // every member of a >= 2-member hash run, with its first-occurrence
    // flag, via the same run scan the dedup uses; the candidate windows
    // hold every occurrence of every duplicated window (`candidates`)
    val (win, pinned) = candidates(docs, unit, cfg.minLen)
    val hashDups = dupMembers(win)
    if (!cfg.verifyBytes) {
      (hashDups, pinned)
    } else {
      // group on the unit's slice key of the actual window: the raw slice
      // at minLen <= 32 (no wider than a digest), above it the sha2-256
      // digest, which keeps the regroup shuffle flat when minLen is
      // large. With verifyPrune the hash-dup pointer set is pinned (it
      // feeds the doc-key prune and the digest join) and the corpus bytes
      // are semi-join-pruned to dup docs before the join -- same shape as
      // verifyJoin. An anchored (pinned) corpus is already pruned.
      val prune = cfg.verifyPrune && pinned.isEmpty
      val dups =
        if (prune) hashDups.select("k", "pos").localCheckpoint(true)
        else hashDups.select("k", "pos")
      val bytesDf0 = pinned.getOrElse(docs).select(col("k").cast("long").as("vk"), unit.verifySeq)
      val bytesDf =
        if (!prune) bytesDf0 else pruneToCandidateDocs(bytesDf0, "vk", dups, "k")
      val withDigest = dups
        .join(bytesDf, col("k") === col("vk"))
        .select(col("k"), col("pos"), unit.sliceKey("pos").as("w"))
      val byW = Window.partitionBy("w").orderBy("k", "pos")
      (withDigest
        .withColumn("rn", row_number().over(byW))
        .withColumn("c2", count(lit(1)).over(Window.partitionBy("w")))
        .where(col("c2") > 1)
        .select(col("k"), col("pos"), (col("rn") > 1).as("dropped")), pinned)
    }
  }
}
