package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Round-12 fused fold kernels — the tail of the interpreted-HOF hunt.
  *
  * Round 11 established the pattern: higher-order functions
  * (`transform`/`aggregate`/`filter`) never enter WholeStageCodegen — each
  * evaluates an interpreted expression tree with a lambda-variable box per
  * element — and fusing a hot HOF chain into one codegen'd expression is
  * worth integer factors at corpus scale while being invisible at the
  * sf0.1 gate. Each kernel here is the measured-hot composed form of one
  * catalog query, replaced by a bit-equal one-pass loop (equality pinned
  * per kernel in FoldKernelsSpec on real corpus text; hot/not-hot verdicts
  * measured composed vs fused at pipeline scale, SURVEY.md "The
  * interpreted-HOF hunt").
  */

/** Max element multiplicity of a string array (q57b's top-bigram mode) —
  * value-identical to
  * `array_max(transform(array_distinct(bg), x => size(filter(bg, y => y === x))))`
  * in ONE hashed counting pass instead of O(distinct x len) interpreted
  * equality scans.
  *
  * Equality contract: empty input -> null (array_max of an empty array);
  * null elements count 0 (`y === x` is null for null x, so the composed
  * filter keeps nothing) but still contribute a 0 to the max — an
  * all-null array yields 0, not null; null input -> null.
  */
case class TopCount(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "top_count"

  override def nullSafeEval(input: Any): Any =
    FoldKernels.topCount(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("tc")
      s"""
         |java.lang.Integer $boxed = graft.functions.FoldKernels.topCount($c);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.intValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TopCount =
    copy(child = newChild)
}

/** Sliding-window minima over an array<long> (q53's winnowing fold) —
  * bit-identical to
  * `transform(sequence(1, greatest(size(h) - (w-1) - 1 + 1, 1)), i => array_min(slice(h, i, w)))`
  * i.e. the q53 shape with w = 4: output length max(n - w + 1, 1); element
  * k = min of the w-element (or shorter, at a short array) window starting
  * at k; a window with no non-null element yields a null element (empty
  * input -> [null], matching array_min(empty-slice)). One pass with a
  * monotone deque would be O(n); w is tiny (4), so the simple O(n*w) loop
  * wins on constant factor — the composed form's cost was the per-position
  * slice ALLOCATION and interpreted array_min, not the arithmetic.
  */
case class WindowMins(child: Expression, w: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(w >= 1, "window_mins needs w >= 1")

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "window_mins"

  override def nullSafeEval(input: Any): Any =
    FoldKernels.windowMins(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FoldKernels.windowMins($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): WindowMins =
    copy(child = newChild)
}

/** Sum of squared codepoints of a string (q199's frame-energy inner fold)
  * — bit-identical to
  * `aggregate(transform(sequence(1, length(fb)), i -> cast(ascii(substr(fb, i, 1)) as double)), 0D, (a, x) -> a + x * x)`:
  * a sequential left fold of codepoint² in codepoint order (`substr`,
  * `length`, and `ascii` all count CODEPOINTS, so the kernel iterates
  * codepoints, not bytes — equal on ASCII, and still equal on any BMP+
  * input). Empty string -> 0.0. The composed form builds a boxed position
  * array, a substring and an interpreted 4-node lambda PER CHARACTER; this
  * is one UTF-8 decode loop.
  */
case class CodepointEnergy(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "codepoint_energy"

  override def nullSafeEval(input: Any): Any =
    FoldKernels.codepointEnergy(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FoldKernels.codepointEnergy($c)")

  override protected def withNewChildInternal(newChild: Expression): CodepointEnergy =
    copy(child = newChild)
}

/** Best cosine match against a broadcast array of (id, vector) structs
  * (q121's decontamination fold) — value-identical to the composed
  * `aggregate(bench, (-2.0, -1L), (acc, b) => if round(cos(v, b.bv), 4) > acc.sim then (sim, b.id) else acc)`
  * where `cos` is vec_dot(v,bv) / (sqrt(vec_dot(v,v)) * sqrt(vec_dot(bv,bv)))
  * and round is HALF_UP at 4 dp (Spark's Round on doubles = BigDecimal
  * HALF_UP — reproduced with the same BigDecimal call). Strictly-greater
  * replacement + ascending visit order keeps the LOWEST matching id on
  * rounded ties, exactly like the fold (and the DuckDB oracle's
  * (sim DESC, id ASC) row_number). The query vector's norm is computed
  * ONCE (the interpreted fold recomputed it per bench element — pure
  * waste; same double value, so results are bit-equal). A bench element
  * whose vector length mismatches v (composed: vec_dot -> null -> the
  * `when` keeps acc) is skipped; a NaN cosine (zero-norm vector: 0/0)
  * never replaces (NaN > x is false in both forms). Null input (either
  * side) -> null struct.
  */
case class BestCosine(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(DoubleType),
    ArrayType(StructType(Seq(
      StructField("id", LongType),
      StructField("bv", ArrayType(DoubleType))))))
  override def dataType: DataType = StructType(Seq(
    StructField("sim", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false)))
  override def prettyName: String = "best_cosine"

  override def nullSafeEval(l: Any, r: Any): Any =
    FoldKernels.bestCosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (v, b) => s"graft.functions.FoldKernels.bestCosine($v, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BestCosine =
    copy(left = newLeft, right = newRight)
}

/** Shared-span statistics for one candidate pair (q91's per-pair scan +
  * interval-merge fold) — value-identical to the composed two-step:
  * positions `ps` = 1-based indices i+1 where `array_contains(wb, wa[i])`
  * (ascending; null wa elements never match, exactly like the composed
  * `when(array_contains(wb, x), ...)` whose null condition falls through),
  * then the q91 `aggregate` interval-merge fold over ps with window width
  * `w`: a position extends the open span iff p <= e + 1, else closes it;
  * result struct(n_spans, max_span_tokens, covered_tokens) in token
  * coords. The composed form was O(|wa| x |wb|) interpreted string
  * comparisons per pair; this is one HashSet build of wb + one pass over
  * wa, with the fold inlined on primitive ints.
  */
case class SharedSpanStats(left: Expression, right: Expression, w: Int)
    extends BinaryExpression with ExpectsInputTypes {

  require(w >= 1, "shared_span_stats needs w >= 1")

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("mx", IntegerType, nullable = false),
    StructField("cov", IntegerType, nullable = false)))
  override def prettyName: String = "shared_span_stats"

  override def nullSafeEval(l: Any, r: Any): Any =
    FoldKernels.sharedSpanStats(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.FoldKernels.sharedSpanStats($a, $b, $w)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SharedSpanStats =
    copy(left = newLeft, right = newRight)
}

/** Max n-gram multiplicity straight from the token array — value-identical
  * to `top_count(word_ngrams(tokens, n))` (and therefore to the composed
  * `array_max(transform(array_distinct(g), x => size(filter(g, y => y === x))))`
  * over the materialized gram array) WITHOUT ever materializing the gram
  * array: one pass building each space-joined gram in place and counting
  * multiplicities in a hash map. The round-12 composed-vs-fused laps
  * (SURVEY.md "The interpreted-HOF hunt") measured that fusing only the
  * terminal fold (top_count over a composed word_ngrams array) was
  * NEUTRAL at pipeline scale — the interpreted per-position
  * slice+array_join gram construction was the cost, exactly like round
  * 11's shingle kernels. Fewer than n tokens -> null (top_count of the
  * empty gram array); null tokens skipped within a gram like array_join.
  */
case class WordNgramTopCount(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n > 0, "word_ngram_top_count needs n >= 1")

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "word_ngram_top_count"

  override def nullSafeEval(input: Any): Any =
    FoldKernels.wordNgramTopCount(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("tc")
      s"""
         |java.lang.Integer $boxed =
         |  graft.functions.FoldKernels.wordNgramTopCount($c, $n);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.intValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WordNgramTopCount =
    copy(child = newChild)
}

/** Rolling-hash of every n-token window — bit-identical to
  * `transform(word_ngrams(tokens, n), g => rolling_hash(g))` (the q53
  * winnowing shingle chain: TextKernels.rollingHash over the space-joined
  * gram's UTF-16 units) with NO gram-string materialization: the
  * polynomial fold runs over each window's token chars directly, with the
  * single-space separator folded between tokens exactly where array_join
  * puts it (null tokens skipped, separator-correctly). Fewer than n tokens
  * -> empty array; null input -> empty array (the composed twin's
  * when()-guard fallthrough), so never null.
  */
case class WordNgramRollingHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n > 0, "word_ngram_rolling_hashes needs n >= 1")

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "word_ngram_rolling_hashes"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) NGramKernel.emptyArray
    else FoldKernels.wordNgramRollingHashes(v.asInstanceOf[ArrayData], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          ${childGen.isNull}
            ? graft.functions.NGramKernel.emptyArray()
            : graft.functions.FoldKernels.wordNgramRollingHashes(${childGen.value}, $n);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordNgramRollingHashes =
    copy(child = newChild)
}

/** 64-bit SimHash of an array<long> of token hashes (q34's signature) —
  * value-identical to the composed nested fold
  * `aggregate(sequence(0, 63), 0L, (acc, bit) -> acc + IF(aggregate(hs, 0L, (a, h) -> a + ((shiftrightunsigned(h, bit) & 1) * 2 - 1)) > 0, shiftleft(1, bit), 0))`
  * — per bit, +1 for a set bit and -1 for a clear bit over all hashes, the
  * bit lands in the signature iff the sum is positive — computed as ONE
  * pass over the array updating 64 counters instead of 64 interpreted
  * re-walks (the composed form is O(64 x tokens) with a lambda box per
  * step). Edges pinned by the composed semantics: an empty array -> 0L
  * (every bit sum is 0, not > 0); ANY null element -> 0L (the inner fold's
  * accumulator goes null, and IF(null > 0) takes the 0 branch for every
  * bit); null input -> null.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    FoldKernels.simHash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FoldKernels.simHash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Shared JVM kernels (static forwarders) for the fold expressions — one
  * implementation behind both interpreted eval and generated code, so
  * there is no eval/codegen split-brain risk. */
object FoldKernels {

  def wordNgramTopCount(arr: ArrayData, n: Int): java.lang.Integer = {
    val total = arr.numElements()
    val cnt = total - n + 1
    if (cnt <= 0) return null // top_count(empty gram array) = null
    val toks = new Array[UTF8String](total)
    var i = 0
    while (i < total) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val space = UTF8String.fromString(" ")
    val counts = new java.util.HashMap[UTF8String, Array[Int]](cnt * 2)
    var max = 0
    var start = 0
    while (start < cnt) {
      val gram =
        if (n == 1) {
          val t = toks(start)
          if (t == null) UTF8String.EMPTY_UTF8 else t
        } else UTF8String.concatWs(space,
          java.util.Arrays.copyOfRange(toks, start, start + n): _*)
      val c = counts.get(gram)
      val v = if (c == null) { counts.put(gram, Array(1)); 1 }
        else { c(0) += 1; c(0) }
      if (v > max) max = v
      start += 1
    }
    java.lang.Integer.valueOf(max)
  }

  def wordNgramRollingHashes(arr: ArrayData, n: Int): ArrayData = {
    val total = arr.numElements()
    val cnt = total - n + 1
    if (cnt <= 0)
      return new GenericArrayData(Array.emptyLongArray)
    // toString once per token (rollingHash is defined over UTF-16 units);
    // null tokens stay null and are skipped separator-correctly below
    val toks = new Array[String](total)
    var i = 0
    while (i < total) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString
      i += 1
    }
    val out = new Array[Long](cnt)
    var start = 0
    while (start < cnt) {
      var h = 0L
      var first = true
      var k = start
      while (k < start + n) {
        val t = toks(k)
        if (t != null) { // array_join skips nulls AND their separators
          if (!first) h = h * 1000003L + ' '.toLong
          var c = 0
          while (c < t.length) {
            h = h * 1000003L + t.charAt(c).toLong
            c += 1
          }
          first = false
        }
        k += 1
      }
      out(start) = h
      start += 1
    }
    new GenericArrayData(out)
  }

  def simHash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return 0L // composed: null poisons every bit sum
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  def topCount(arr: ArrayData): java.lang.Integer = {
    val n = arr.numElements()
    if (n == 0) return null
    val counts = new java.util.HashMap[UTF8String, Array[Int]](n * 2)
    var hasNull = false
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) hasNull = true
      else {
        val s = arr.getUTF8String(i)
        val c = counts.get(s)
        if (c == null) counts.put(s, Array(1)) else c(0) += 1
      }
      i += 1
    }
    var max = if (hasNull) 0 else Int.MinValue
    val it = counts.values().iterator()
    while (it.hasNext) { val c = it.next()(0); if (c > max) max = c }
    // all-null array: distinct = [null], its filter count is 0 -> max 0
    java.lang.Integer.valueOf(if (max == Int.MinValue) 0 else max)
  }

  def windowMins(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    val outLen = math.max(n - w + 1, 1)
    val out = new Array[Any](outLen)
    var k = 0
    while (k < outLen) {
      // window = elements [k, min(k + w, n)); slice past the end truncates
      var min = Long.MaxValue
      var any = false
      var j = k
      val hi = math.min(k + w, n)
      while (j < hi) {
        if (!arr.isNullAt(j)) {
          val v = arr.getLong(j)
          if (!any || v < min) { min = v; any = true }
        }
        j += 1
      }
      out(k) = if (any) java.lang.Long.valueOf(min) else null
      k += 1
    }
    new GenericArrayData(out)
  }

  def codepointEnergy(u: UTF8String): Double = {
    val s = u.toString
    var acc = 0.0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      val x = cp.toDouble
      acc += x * x
    }
    acc
  }

  def bestCosine(v: ArrayData, bench: ArrayData): InternalRow = {
    val d = v.numElements()
    // query-vector norm once (same sequential fold as VecDot(v, v))
    var nv = 0.0
    var i = 0
    var vNull = false
    while (i < d) {
      if (v.isNullAt(i)) vNull = true
      else { val x = v.getDouble(i); nv += x * x }
      i += 1
    }
    val normV = math.sqrt(nv)
    var bestSim = -2.0
    var bestId = -1L
    val nb = bench.numElements()
    var b = 0
    while (b < nb) {
      if (!bench.isNullAt(b)) {
        val row = bench.getStruct(b, 2)
        if (!row.isNullAt(1)) {
          val bv = row.getArray(1)
          // composed: vec_dot -> null on length mismatch or null element,
          // and `when(null > acc.sim)` keeps acc -> skip
          if (bv.numElements() == d && !vNull) {
            var dot = 0.0
            var nb2 = 0.0
            var ok = true
            var j = 0
            while (ok && j < d) {
              if (bv.isNullAt(j)) ok = false
              else {
                val y = bv.getDouble(j)
                dot += v.getDouble(j) * y
                nb2 += y * y
              }
              j += 1
            }
            if (ok) {
              val sim = dot / (normV * math.sqrt(nb2))
              // Spark Round(double, 4) = BigDecimal HALF_UP (NaN/inf pass
              // through unchanged; NaN never replaces)
              val rounded =
                if (java.lang.Double.isNaN(sim) || java.lang.Double.isInfinite(sim)) sim
                else java.math.BigDecimal.valueOf(sim)
                  .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
              if (rounded > bestSim) {
                bestSim = rounded
                bestId = if (row.isNullAt(0)) -1L else row.getLong(0)
              }
            }
          }
        }
      }
      b += 1
    }
    InternalRow(bestSim, bestId)
  }

  def sharedSpanStats(wa: ArrayData, wb: ArrayData, w: Int): InternalRow = {
    val nb = wb.numElements()
    val set = new java.util.HashSet[UTF8String](math.max(8, nb * 2))
    var i = 0
    while (i < nb) {
      if (!wb.isNullAt(i)) set.add(wb.getUTF8String(i))
      i += 1
    }
    // fold state, exactly the q91 aggregate's: n spans, open span [s, e],
    // max closed length, covered closed tokens
    var n = 0
    var s = 0
    var e = -2
    var mx = 0
    var cov = 0
    @inline def spanLen: Int = if (n == 0) 0 else e - s + 1
    val na = wa.numElements()
    i = 0
    while (i < na) {
      if (!wa.isNullAt(i) && set.contains(wa.getUTF8String(i))) {
        val p = i + 1
        if (n == 0 || p > e + 1) {
          val closed = spanLen
          if (closed > mx) mx = closed
          cov += closed
          n += 1
          s = p
          e = p + w - 1
        } else {
          e = p + w - 1
        }
      }
      i += 1
    }
    val closed = spanLen
    if (closed > mx) mx = closed
    cov += closed
    InternalRow(n, mx, cov)
  }
}
