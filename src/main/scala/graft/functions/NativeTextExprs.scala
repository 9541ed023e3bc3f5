package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text-statistics expressions — same design stance as
  * [[NativeVectorExprs]]: when a per-DOCUMENT statistic needs only that
  * document's own tokens, a codegen'd Catalyst expression computing it
  * row-locally beats materializing an exploded intermediate through a
  * shuffle. The Gopher repetition ladder (reference: the published
  * Rae et al. 2021 Table A1 battery; engine query `l27b`) is the
  * motivating case: its top-n-gram coverages were previously computed by
  * exploding every 2/3/4-gram of every document into a (doc, n, gram)
  * frame (~3× token count rows of STRING payload through one shuffle)
  * and hash-aggregating; the per-doc answer never needed rows from any
  * other document, so the explode bought nothing but shuffle volume. At
  * 100 TB the row-local form is the difference between a pure map-side
  * scan and shuffling ~3× the corpus' token text.
  */
object NativeTextExprs {

  private val topgramBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 1,
      "graft_topgram_stats(tokens) takes exactly one array<string>")
    TopGramStats(children.head)
  }

  private val gramHashBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 2,
      "graft_gram_hash64(tokens, k) takes an array<string> and a width")
    GramHash64(children.head, children(1))
  }

  private val gramStrBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 2,
      "graft_grams(tokens, k) takes an array<string> and a width")
    GramStrings(children.head, children(1))
  }

  def register(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_topgram_stats"),
      new ExpressionInfo(classOf[TopGramStats].getName, "graft_topgram_stats"),
      topgramBuilder))
    ext.injectFunction((
      FunctionIdentifier("graft_gram_hash64"),
      new ExpressionInfo(classOf[GramHash64].getName, "graft_gram_hash64"),
      gramHashBuilder))
    ext.injectFunction((
      FunctionIdentifier("graft_grams"),
      new ExpressionInfo(classOf[GramStrings].getName, "graft_grams"),
      gramStrBuilder))
  }

  /** Register into an ALREADY-BUILT session if absent — same fallback
    * contract as [[NativeVectorExprs.ensureRegistered]]. Idempotent. */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier("graft_topgram_stats")))
      reg.registerFunction(
        FunctionIdentifier("graft_topgram_stats"),
        new ExpressionInfo(classOf[TopGramStats].getName, "graft_topgram_stats"),
        topgramBuilder)
    if (!reg.functionExists(FunctionIdentifier("graft_gram_hash64")))
      reg.registerFunction(
        FunctionIdentifier("graft_gram_hash64"),
        new ExpressionInfo(classOf[GramHash64].getName, "graft_gram_hash64"),
        gramHashBuilder)
    if (!reg.functionExists(FunctionIdentifier("graft_grams")))
      reg.registerFunction(
        FunctionIdentifier("graft_grams"),
        new ExpressionInfo(classOf[GramStrings].getName, "graft_grams"),
        gramStrBuilder)
  }
}

/** `graft_topgram_stats(tokens)` → `array<bigint>` of length 6:
  * `[c2, cov2, c3, cov3, c4, cov4]` — for gram widths n = 2, 3, 4, the
  * occurrence count `c` of the document's most frequent word n-gram and
  * that gram's CHARACTER COVERAGE `c · numChars(gram)`, where the top
  * gram is the argmax of `(count, coverage)` in strict lexicographic
  * order — the identical integer-exact selection rule the DuckDB oracle
  * runs (`arg_max` over a `c · 2^64 + cov` HUGEINT key, exact for any
  * BIGINT coverage — no packed-integer bound). A width with no grams (fewer
  * than n tokens) reports 0s, which can never flag (`0 · 100 > pct ·
  * n_chars` is false for any non-negative char count).
  *
  * Exactness: gram identity is the exact token sequence (no hashing —
  * a hash-keyed count could merge colliding grams and silently disagree
  * with the string-keyed oracle), and lengths are Unicode CODE POINTS
  * (`UTF8String.numChars`), matching both Spark's `length()` and
  * DuckDB's `len()`.
  *
  * Memory bound: one count entry per distinct gram per width — ≤ 3 ·
  * tokens entries, i.e. O(document size), the same per-group state the
  * exploded hash-agg form kept, now without shuffling it. Documents are
  * the unit of parallelism; a corpus of pathological multi-GiB documents
  * should pre-chunk upstream (the same contract the tokenizer and
  * dedup shingling already assume). */
case class TopGramStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_topgram_stats requires an array<string> argument, got $t")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_topgram_stats"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    TopGramStats.compute(a.asInstanceOf[ArrayData])

  // Codegen delegates to the static helper: the hot loop is a hash-map
  // build over variable-length strings, which JIT compiles identically
  // whether emitted as Janino source or called as a static method — the
  // call form keeps the operator inside WholeStageCodegen (one static
  // call per row, no iterator boundary) without a page of quoted Java.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("topgramResult")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.TopGramStats.compute($a);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TopGramStats =
    copy(child = newChild)
}

object TopGramStats {
  private val Widths = Array(2, 3, 4)

  /** Static entry shared by interpreted eval and codegen. Returns null
    * iff the token array contains a null element (mirrors the
    * null-poisoning of the other native expressions). */
  def compute(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) return null
      toks(i) = tokens.getUTF8String(i)
      i += 1
    }
    val out = new Array[Long](Widths.length * 2)
    var w = 0
    while (w < Widths.length) {
      topStats(toks, Widths(w), out, w * 2)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Writes the argmax-(count, coverage) count and coverage of the
    * width-`g` grams into `out(at)` / `out(at + 1)`. */
  private def topStats(toks: Array[UTF8String], g: Int,
      out: Array[Long], at: Int): Unit = {
    val n = toks.length
    if (n < g) return
    // counts keyed by the exact gram; values are mutable {count, chars}
    val counts = new java.util.HashMap[UTF8String, Array[Long]](n * 2)
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i <= n - g) {
      val parts = new Array[UTF8String](g)
      var k = 0
      while (k < g) { parts(k) = toks(i + k); k += 1 }
      val gram = UTF8String.concatWs(sep, parts: _*)
      val slot = counts.get(gram)
      if (slot == null) counts.put(gram, Array(1L, gram.numChars().toLong))
      else slot(0) += 1L
      i += 1
    }
    var bestC = 0L
    var bestCov = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val slot = it.next()
      val c = slot(0)
      val cov = c * slot(1)
      if (c > bestC || (c == bestC && cov > bestCov)) { bestC = c; bestCov = cov }
    }
    out(at) = bestC
    out(at + 1) = bestCov
  }
}

/** Native positional k-gram xxhash64 over an `array<string>` token
  * column — `graft_gram_hash64(ta, k)` is BYTE-IDENTICAL, position for
  * position, to `transform(sequence(0, size(ta) - k), i ->
  * xxhash64(concat_ws(' ', slice(ta, i + 1, k))))` (seed 42, Spark's
  * own `XXH64.hashUnsafeBytes`), because a space-joined k-gram is a
  * CONTIGUOUS SLICE of the space-joined document: the tokens are
  * written once into one byte buffer and each gram hashed in place over
  * its slice. The HOF form builds a fresh k-token UTF8String per
  * position — O(tokens × k) bytes of allocation + copy per document;
  * this is O(tokens) copy + O(tokens × k) pure hashing, no per-gram
  * garbage. It is the shared gram-hash kernel of the release gates'
  * pre-computed pin columns (sketch shingles k=3, span grams k=15 —
  * [[graft.operators.LlmQueries.withGatePre]]) and of every hashed gram
  * frame builder.
  *
  * Returns NULL when the doc has fewer than k tokens — exactly the rows
  * the HOF form's `size(ta) >= k` guards drop — and null-poisons on a
  * null token (unreachable from `split` output; mirrors the other
  * native expressions' conservatism, and concat_ws's null-SKIPPING
  * would silently mis-hash such a gram anyway). */
case class GramHash64(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_gram_hash64 requires (array<string>, int), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram_hash64"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, k: Any): Any =
    GramHash64.compute(a.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  // same codegen stance as TopGramStats: the hot loop is the static
  // helper, called once per row from inside the WholeStageCodegen span
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, k) => {
      val r = ctx.freshName("gramHashResult")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.GramHash64.compute($a, $k);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramHash64 =
    copy(left = newLeft, right = newRight)
}

object GramHash64 {

  /** Static entry shared by interpreted eval and codegen. Returns null
    * when `n < k`, on a non-positive width, or on a null token. */
  def compute(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (k <= 0 || n < k) return null
    val toks = new Array[UTF8String](n)
    var total = n - 1 // the n-1 single-space separators
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) return null
      val u = tokens.getUTF8String(i)
      toks(i) = u
      total += u.numBytes()
      i += 1
    }
    // one space-joined buffer + per-token start offsets: gram i's bytes
    // are buf[offs(i), ends(i + k - 1))
    val buf = new Array[Byte](total)
    val offs = new Array[Int](n)
    val ends = new Array[Int](n)
    var pos = 0
    i = 0
    while (i < n) {
      if (i > 0) { buf(pos) = ' '; pos += 1 }
      offs(i) = pos
      val u = toks(i)
      u.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
      pos += u.numBytes()
      ends(i) = pos
      i += 1
    }
    val out = new Array[Long](n - k + 1)
    i = 0
    while (i <= n - k) {
      out(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + offs(i),
        ends(i + k - 1) - offs(i), 42L)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native positional k-gram STRINGS over an `array<string>` token
  * column — `graft_grams(ta, k)` yields exactly
  * `transform(sequence(0, size(ta) - k), i -> concat_ws(' ',
  * slice(ta, i + 1, k)))`, but each gram is a ZERO-COPY UTF8String
  * view into one space-joined buffer per document instead of a fresh
  * per-gram concatenation — O(tokens) bytes copied per doc instead of
  * O(tokens × k). This is the string sibling of [[GramHash64]] for the
  * oracle-replayed gram families (decontamination 5/8-grams, the
  * l33-family string spans, source-overlap 15-grams), whose gram
  * REPRESENTATION must stay the exact strings DuckDB rebuilds.
  *
  * Same null contract as [[GramHash64]]: NULL under k tokens (the
  * HOF form's size-guard rows), null-poisoned by a null token.
  *
  * Retention: every gram of a row shares that row's joined buffer, so
  * ONE gram retained past the row (say, buffered in an aggregation
  * before unsafe conversion) keeps the whole document's bytes alive —
  * an amplification the per-gram concat form did not have. A consumer
  * that caches individual grams long-term should copy them
  * (`UTF8String.fromBytes(g.getBytes)`) at that site. */
case class GramStrings(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_grams requires (array<string>, int), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_grams"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, k: Any): Any =
    GramStrings.compute(a.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, k) => {
      val r = ctx.freshName("gramStrResult")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.GramStrings.compute($a, $k);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramStrings =
    copy(left = newLeft, right = newRight)
}

object GramStrings {

  /** Static entry shared by interpreted eval and codegen. Returns null
    * when `n < k`, on a non-positive width, or on a null token. */
  def compute(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (k <= 0 || n < k) return null
    val toks = new Array[UTF8String](n)
    var total = n - 1
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) return null
      val u = tokens.getUTF8String(i)
      toks(i) = u
      total += u.numBytes()
      i += 1
    }
    val buf = new Array[Byte](total)
    val offs = new Array[Int](n)
    val ends = new Array[Int](n)
    var pos = 0
    i = 0
    while (i < n) {
      if (i > 0) { buf(pos) = ' '; pos += 1 }
      offs(i) = pos
      val u = toks(i)
      u.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
      pos += u.numBytes()
      ends(i) = pos
      i += 1
    }
    val out = new Array[AnyRef](n - k + 1)
    i = 0
    while (i <= n - k) {
      // a view over the shared buffer — no per-gram byte copy
      out(i) = UTF8String.fromBytes(buf, offs(i), ends(i + k - 1) - offs(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}
