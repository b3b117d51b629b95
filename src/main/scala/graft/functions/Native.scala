package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** Row-level kernels behind the native Catalyst expressions. A top-level
  * Scala object gets Java static forwarders, so Janino-generated code can
  * call `graft.functions.NativeKernels.simhash64(b, n)` directly -- the
  * expressions below stay inside whole-stage codegen with a single static
  * call, no Row boxing and no UDF closure dispatch.
  */
object NativeKernels {

  /** Common prefix length (bytes) of two byte arrays. */
  def lcp(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a(i) == b(i)) i += 1
    i.toLong
  }

  /** 61-bit polynomial rolling hash of the whole byte string at `base`
    * (the same hash family as window generation, mod 2^61 - 1).
    */
  def polyhash61(b: Array[Byte], base: Long): Long =
    PolyHash.hash(b, 0, b.length, base)

  /** 64-bit SimHash over all byte n-gram shingles (bag semantics). */
  def simhash64(b: Array[Byte], n: Int): Long =
    Shingles.simhash64(Shingles.allHashes(b, n))

  private val seedCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  /** k-permutation MinHash signature over DISTINCT byte n-gram shingles
    * (set semantics; Long.MaxValue sentinels when the doc is shorter
    * than n). Seed schedules are cached per k.
    */
  def minhash(b: Array[Byte], n: Int, k: Int): ArrayData = {
    val seeds = seedCache.computeIfAbsent(k, kk => Shingles.seeds(kk))
    UnsafeArrayData.fromPrimitiveArray(
      Shingles.minhashSignature(Shingles.distinctHashes(b, n), seeds))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken MOSS): rolling
    * hash of every byte n-gram, each sliding window of w consecutive
    * hashes contributes its minimum, result = the DISTINCT selected
    * values. Trailing windows shorten naturally (frame
    * [i, min(i+w-1, last)], the SQL `ROWS BETWEEN CURRENT ROW AND w-1
    * FOLLOWING` frame). O(len) via a monotone deque -- each hash enters
    * and leaves at most once; equal values keep the later index (same
    * minimum VALUE, and only values are selected).
    */
  def winnow(b: Array[Byte], n: Int, w: Int): ArrayData = {
    require(w >= 1, "window w must be >= 1")
    val h = if (b == null) Array.emptyLongArray
            else PolyHash.windowHashes(b, n, PolyHash.B1)
    val m = h.length
    val out = scala.collection.mutable.LongMap.empty[Unit]
    if (m > 0) {
      val q = new Array[Int](m)
      var qb = 0; var qe = 0
      var j = 0
      while (j < m) {
        while (qe > qb && h(q(qe - 1)) >= h(j)) qe -= 1
        q(qe) = j; qe += 1
        val start = j - w + 1 // full window [start, j]
        if (start >= 0) {
          while (q(qb) < start) qb += 1
          out.update(h(q(qb)), ())
        }
        j += 1
      }
      // trailing shortened windows [i, m-1]: suffix minima off the deque
      var i = math.max(0, m - w + 1)
      while (i < m) {
        while (q(qb) < i) qb += 1
        out.update(h(q(qb)), ())
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out.keysIterator.toArray)
  }

  /** Winnowing selection over gram hashes `g`: for every full run of `w`
    * consecutive grams `[s, s + w - 1]`, s in `[0, g.length - w]`, the
    * index of its minimum, ties to the RIGHTMOST. Empty when fewer than
    * `w` grams exist. O(len) via a monotone deque; the result is
    * non-decreasing in s. The choice inside a run depends only on the
    * run's own values, so two equal runs select the same relative offset.
    */
  def windowAnchors(g: Array[Long], w: Int): Array[Int] = {
    require(w >= 1, "window w must be >= 1")
    val m = g.length
    if (m < w) return Array.emptyIntArray
    val out = new Array[Int](m - w + 1)
    val q = new Array[Int](m)
    var qb = 0; var qe = 0
    var j = 0
    while (j < m) {
      // popping on >= leaves the rightmost of equal minima at the front
      while (qe > qb && g(q(qe - 1)) >= g(j)) qe -= 1
      q(qe) = j; qe += 1
      val s = j - w + 1
      if (s >= 0) {
        while (q(qb) < s) qb += 1
        out(s) = q(qb)
      }
      j += 1
    }
    out
  }

  /** The distinct values of a non-decreasing array, ascending. */
  def distinctAscending(a: Array[Int]): Array[Int] = {
    val b = Array.newBuilder[Int]
    var i = 0
    while (i < a.length) {
      if (i == 0 || a(i) != a(i - 1)) b += a(i)
      i += 1
    }
    b.result()
  }

  /** Window starts in `[0, last]` lying within `span` before some anchor:
    * the union of `[a - span, a]` over `anchors` (any order), ascending,
    * each start once.
    */
  def nearStarts(anchors: Array[Long], span: Int, last: Int): Array[Int] = {
    val as = anchors.sorted
    val b = Array.newBuilder[Int]
    var next = 0L // lowest start not yet emitted
    for (a <- as) {
      var s = math.max(next, a - span)
      val e = math.min(a, last.toLong)
      while (s <= e) { b += s.toInt; s += 1 }
      next = math.max(next, e + 1)
    }
    b.result()
  }
}

/** Window-frame generator: one output row (h1, h2, pos) per in-doc
  * window position, computed by the same rolling-hash kernels as
  * `PolyHash.windowHashes2` / `windowHashesLongs2`. Replaces the typed
  * `Dataset.mapPartitions` window generation (round-6 guide §1.2 "per-task
  * work"): the typed path allocates a `Tuple4` plus four boxed Longs per
  * position (1e8+ positions per corpus pass) across a
  * DeserializeToObject/SerializeFromObject boundary; this Generator
  * evaluates inside `GenerateExec` against a single reused
  * `SpecificInternalRow` (primitive setters, zero per-row allocation) and
  * keeps the scan -> generate -> exchange pipeline in one visible plan.
  *
  * Input modes, keyed by the type of the first child (the three units of
  * SubstringDedup's one window function):
  *  - binary: byte windows
  *  - array<string>: whitespace tokens, each token 61-bit-hashed to a
  *    digit (`reversed` mirrors the stream)
  *  - array<long>: pre-tokenized ids as digits (`reversed` mirrors the
  *    stream)
  * Null input (null text / null token array) generates nothing, matching
  * the typed paths' null handling. A null ELEMENT of a token or id array
  * fails the task with an IllegalArgumentException: no digit stands for
  * it, and hashing it as 0 would silently dedup `[1, null, 3]` against
  * `[1, 0, 3]`. The element type may still be declared nullable (a
  * JSON-read `tokens` array is), so the check runs per element.
  *
  * Row shapes, all (h1, h2, pos) over unit offsets:
  *  - `anchorGram == 0`: every window of `winLen` units (plus its raw
  *    bytes `w` when `withBytes`, byte mode only).
  *  - `anchorGram = g > 0`, one child: the winnowing anchors
  *    (Schleimer/Wilkerson/Aiken) of the g-unit grams -- for every full
  *    window of `winLen` units, i.e. every run of `winLen - g + 1`
  *    consecutive grams, the gram with the minimum h1, ties to the
  *    rightmost (`NativeKernels.windowAnchors`); each selected gram once,
  *    keyed by the gram's own (h1, h2). The selected gram's offset
  *    relative to the window start is a function of the window's units
  *    alone.
  *  - `anchorGram = g > 0`, second child `anchors: array<long>`: the
  *    windows of `winLen` units whose start lies in `[a - (winLen - g), a]`
  *    for some anchor position a, each start once (`NativeKernels.nearStarts`).
  *    A null anchor array generates nothing.
  */
case class GraftWindowGen(children: Seq[Expression], winLen: Int, reversed: Boolean,
                          withBytes: Boolean = false, anchorGram: Int = 0)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(winLen >= 1, s"winLen $winLen must be >= 1")
  require(anchorGram >= 0 && anchorGram <= winLen,
    s"anchorGram $anchorGram must lie in [0, winLen $winLen]")
  require(children.size == 1 || (children.size == 2 && anchorGram > 0),
    "graft_window_gen takes a sequence, plus an anchor array only with anchorGram > 0")
  private def child: Expression = children.head
  private def near: Option[Expression] = children.lift(1)
  // `withBytes` (byte mode, every window): additionally emit the window's
  // raw bytes per row -- the inline-verification shape for small minLen,
  // where the window slice is no wider than a digest and carrying it
  // through the one exchange replaces the whole corpus-join
  // verification stage (see SubstringDedup.removeRanges)
  override def elementSchema: StructType = {
    val base = new StructType()
      .add("h1", LongType, nullable = false)
      .add("h2", LongType, nullable = false)
      .add("pos", LongType, nullable = false)
    if (withBytes) base.add("w", BinaryType, nullable = false) else base
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType if reversed =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "reversed applies to token/id streams, not bytes")
      case _ if withBytes && (child.dataType != BinaryType || anchorGram > 0) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "withBytes applies to every-window byte streams only")
      case _ if near.exists(_.dataType match {
          case ArrayType(LongType, _) => false
          case _ => true
        }) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_window_gen anchors must be array<long>, got ${near.get.dataType}")
      case BinaryType | ArrayType(StringType, _) | ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_window_gen takes binary, array<string> or array<long>, got $t")
    }
  override def prettyName: String = "graft_window_gen"
  // printed arguments: the every-window form keeps its (child, winLen,
  // reversed, withBytes) signature in plans; the anchor forms append
  // their anchor array and gram length
  override protected def flatArguments: Iterator[Any] =
    Iterator(child, winLen, reversed, withBytes) ++
      (if (anchorGram > 0) near.iterator ++ Iterator(anchorGram) else Iterator.empty)

  @transient private lazy val mode: Int = child.dataType match {
    case BinaryType => 0
    case ArrayType(StringType, _) => 1
    case ArrayType(LongType, _) => 2
  }

  /** Array index of the i-th stream element (mirrored when `reversed`);
    * a null element is rejected here, before any digit is computed.
    */
  private def element(a: ArrayData, n: Int, i: Int): Int = {
    val j = if (reversed) n - 1 - i else i
    if (a.isNullAt(j)) throw new IllegalArgumentException(
      s"graft_window_gen: null element at index $j of a ${child.dataType.simpleString} " +
        "token/id sequence; token and id streams must not contain nulls")
    j
  }

  /** Both bases' hashes of every `len`-unit window of the sequence `v`. */
  private def hashes(v: Any, len: Int): (Array[Long], Array[Long]) = mode match {
    case 0 =>
      PolyHash.windowHashes2(v.asInstanceOf[Array[Byte]], len)
    case 1 =>
      val a = v.asInstanceOf[ArrayData]
      val n = a.numElements()
      val digits = new Array[Long](n)
      var i = 0
      while (i < n) {
        val b = a.getUTF8String(element(a, n, i)).getBytes
        digits(i) = PolyHash.hash(b, 0, b.length, PolyHash.B1)
        i += 1
      }
      PolyHash.windowHashesLongs2(digits, len)
    case 2 =>
      val a = v.asInstanceOf[ArrayData]
      val n = a.numElements()
      val digits = new Array[Long](n)
      var i = 0
      while (i < n) {
        digits(i) = a.getLong(element(a, n, i))
        i += 1
      }
      PolyHash.windowHashesLongs2(digits, len)
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    // one reused mutable row: GenerateExec consumes each yielded row
    // (unsafe-projects it into the output) before requesting the next,
    // the same reuse contract Spark's own generators rely on
    def rows(o1: Array[Long], o2: Array[Long], at: Array[Int]): Iterator[InternalRow] = {
      val row = new org.apache.spark.sql.catalyst.expressions.SpecificInternalRow(
        Seq(LongType, LongType, LongType))
      at.iterator.map { i =>
        row.setLong(0, o1(i)); row.setLong(1, o2(i)); row.setLong(2, i.toLong)
        row
      }
    }
    if (anchorGram > 0 && near.isEmpty) {
      val (g1, g2) = hashes(v, anchorGram)
      val sel = NativeKernels.windowAnchors(g1, winLen - anchorGram + 1)
      return rows(g1, g2, NativeKernels.distinctAscending(sel))
    }
    val anchors = near.map(_.eval(input).asInstanceOf[ArrayData])
    if (anchors.exists(_ == null)) return Iterator.empty
    val (o1, o2) = hashes(v, winLen)
    if (o1.isEmpty) Iterator.empty
    else if (anchors.isDefined)
      rows(o1, o2, NativeKernels.nearStarts(anchors.get.toLongArray(), winLen - anchorGram,
        o1.length - 1))
    else if (withBytes) {
      val b = v.asInstanceOf[Array[Byte]]
      val row = new org.apache.spark.sql.catalyst.expressions.SpecificInternalRow(
        Seq(LongType, LongType, LongType, BinaryType))
      new Iterator[InternalRow] {
        private var i = 0
        def hasNext: Boolean = i < o1.length
        def next(): InternalRow = {
          row.setLong(0, o1(i)); row.setLong(1, o2(i)); row.setLong(2, i.toLong)
          row.update(3, java.util.Arrays.copyOfRange(b, i, i + winLen))
          i += 1
          row
        }
      }
    } else {
      val row = new org.apache.spark.sql.catalyst.expressions.SpecificInternalRow(
        Seq(LongType, LongType, LongType))
      new Iterator[InternalRow] {
        private var i = 0
        def hasNext: Boolean = i < o1.length
        def next(): InternalRow = {
          row.setLong(0, o1(i)); row.setLong(1, o2(i)); row.setLong(2, i.toLong)
          i += 1
          row
        }
      }
    }
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** `graft_lcp(a, b)`: common prefix length of two binary values. */
case class GraftLcp(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(BinaryType, BinaryType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_lcp"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.lcp(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.NativeKernels.lcp($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `graft_polyhash61(bytes, base)`: 61-bit polynomial hash of a binary
  * value -- the engine's window/shingle hash family, exposed to SQL.
  */
case class GraftPolyHash61(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(BinaryType, LongType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_polyhash61"
  override protected def nullSafeEval(b: Any, base: Any): Any =
    NativeKernels.polyhash61(b.asInstanceOf[Array[Byte]], base.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, base) => s"graft.functions.NativeKernels.polyhash61($b, $base)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `graft_simhash64(bytes, n)`: 64-bit SimHash over byte n-gram
  * shingles of a binary value.
  */
case class GraftSimHash64(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(BinaryType, IntegerType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_simhash64"
  override protected def nullSafeEval(b: Any, n: Any): Any =
    NativeKernels.simhash64(b.asInstanceOf[Array[Byte]], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, n) => s"graft.functions.NativeKernels.simhash64($b, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `graft_minhash(bytes, n, k)`: k-permutation MinHash signature
  * (array<bigint>) over distinct byte n-gram shingles.
  */
case class GraftMinHash(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_minhash"
  override protected def nullSafeEval(b: Any, n: Any, k: Any): Any =
    NativeKernels.minhash(b.asInstanceOf[Array[Byte]], n.asInstanceOf[Int], k.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, n, k) => s"graft.functions.NativeKernels.minhash($b, $n, $k)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** `graft_winnow(bytes, n, w)`: distinct winnowing fingerprints
  * (array<bigint>) -- min-of-each-w-window over rolling n-gram hashes.
  */
case class GraftWinnow(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_winnow"
  override protected def nullSafeEval(b: Any, n: Any, w: Any): Any =
    NativeKernels.winnow(b.asInstanceOf[Array[Byte]], n.asInstanceOf[Int], w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, n, w) => s"graft.functions.NativeKernels.winnow($b, $n, $w)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** The engine's SQL function surface: native codegen expressions plus
  * the UTF-8 writeback UDFs, injectable into any session via
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`).
  */
object GraftFunctions {
  private def column(e: Expression): Column =
    org.apache.spark.sql.GraftColumnBridge.column(e)
  private def expr(c: Column): Expression =
    org.apache.spark.sql.GraftColumnBridge.expression(c)

  // ---- Column-side wrappers (usable without any registration) ----

  /** Common prefix length (bytes) of two binary columns. */
  def lcp(a: Column, b: Column): Column = column(GraftLcp(expr(a), expr(b)))

  /** 61-bit polynomial hash of a binary column at `base`. */
  def polyhash61(b: Column, base: Long): Column =
    column(GraftPolyHash61(expr(b), org.apache.spark.sql.catalyst.expressions.Literal(base)))

  /** 64-bit SimHash over byte n-gram shingles of a binary column. */
  def simhash64(b: Column, n: Int): Column =
    column(GraftSimHash64(expr(b), org.apache.spark.sql.catalyst.expressions.Literal(n)))

  /** k-permutation MinHash signature over distinct byte n-gram shingles. */
  def minhash(b: Column, n: Int, k: Int): Column =
    column(GraftMinHash(expr(b),
      org.apache.spark.sql.catalyst.expressions.Literal(n),
      org.apache.spark.sql.catalyst.expressions.Literal(k)))

  /** Distinct winnowing fingerprints of a binary column. */
  def winnow(b: Column, n: Int, w: Int): Column =
    column(GraftWinnow(expr(b),
      org.apache.spark.sql.catalyst.expressions.Literal(n),
      org.apache.spark.sql.catalyst.expressions.Literal(w)))

  /** Window-frame generator column (use with multi-alias in a select:
    * one (h1, h2, pos) row per window position of a binary / token-array /
    * id-array column).
    */
  def windowGen(in: Column, winLen: Int, reversed: Boolean = false,
                withBytes: Boolean = false): Column =
    column(GraftWindowGen(Seq(expr(in)), winLen, reversed, withBytes))

  /** Winnowing anchors of `gram`-unit grams, one selected gram per full
    * window of `winLen` units: (h1, h2, pos) rows keyed by the gram's own
    * hashes (SubstringDedup's candidate phase above minLen 32).
    */
  private[graft] def anchorGen(in: Column, winLen: Int, gram: Int,
                               reversed: Boolean): Column =
    column(GraftWindowGen(Seq(expr(in)), winLen, reversed, anchorGram = gram))

  /** The `winLen`-unit windows starting within `winLen - gram` units
    * before some position of the `anchors` array column, each once.
    */
  private[graft] def windowsNear(in: Column, anchors: Column, winLen: Int, gram: Int,
                                 reversed: Boolean): Column =
    column(GraftWindowGen(Seq(expr(in), expr(anchors)), winLen, reversed, anchorGram = gram))

  // ---- SQL registration (FunctionRegistry descriptions) ----

  private def desc(name: String, usage: String, arity: Int,
                   build: Seq[Expression] => Expression) = {
    val info = new ExpressionInfo(getClass.getName, null, name, usage, "")
    val checked: Seq[Expression] => Expression = { exprs =>
      require(exprs.length == arity,
        s"$name expects $arity arguments, got ${exprs.length}")
      build(exprs)
    }
    (FunctionIdentifier(name), info, checked)
  }

  /** Native-expression descriptions for SparkSessionExtensions. */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    desc("graft_lcp",
      "graft_lcp(a, b) - common prefix length (bytes) of two binary values",
      2, es => GraftLcp(es(0), es(1))),
    desc("graft_polyhash61",
      "graft_polyhash61(bytes, base) - 61-bit polynomial rolling hash (mod 2^61-1)",
      2, es => GraftPolyHash61(es(0), es(1))),
    desc("graft_simhash64",
      "graft_simhash64(bytes, n) - 64-bit SimHash over byte n-gram shingles",
      2, es => GraftSimHash64(es(0), es(1))),
    desc("graft_minhash",
      "graft_minhash(bytes, n, k) - k-permutation MinHash signature over distinct byte n-gram shingles",
      3, es => GraftMinHash(es(0), es(1), es(2))),
    desc("graft_winnow",
      "graft_winnow(bytes, n, w) - distinct winnowing (MOSS) fingerprints over rolling n-gram hashes",
      3, es => GraftWinnow(es(0), es(1), es(2))))

  /** Register the UTF-8 writeback UDFs on an existing session (UDFs ride
    * the public UDFRegistration, not the extension hook):
    * `graft_clip_ranges(bytes, ranges)` and
    * `graft_remove_mode(bytes, ranges)` with
    * ranges: array<struct<s:bigint, e:bigint>>.
    */
  def registerUdfs(spark: SparkSession): Unit = {
    spark.udf.register("graft_clip_ranges", Utf8.clipRangesUdf)
    spark.udf.register("graft_remove_mode", Utf8.removeModeUdf)
  }
}

/** SparkSessionExtensions entry point: activate with
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.descriptions.foreach(ext.injectFunction)
}
