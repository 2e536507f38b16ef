package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst-native text normalizer (Unicode NFC + lowercase + `\w+` re-join).
  *
  * This replaces the reference's per-row Python closure
  * (`/root/reference/vspace/utils/text.py:5-17`, applied at
  * `/root/reference/vspace/pipelines/base.py:181`) with a codegen'd
  * expression: the call stays inside WholeStageCodegen, no Python worker
  * pipe, no UDF serialization — the structural perf win of the rebuild.
  */
case class NormalizeText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_text"

  override def nullSafeEval(input: Any): Any =
    TextKernels.normalizeUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.normalizeUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}

/** Codegen'd 64-bit polynomial rolling hash of a string (2^64 ring).
  * Building block for document fingerprinting (winnowing) and SimHash.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(input: Any): Any =
    TextKernels.rollingHash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.rollingHash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/** Codegen'd Shannon entropy (nats) over a string's codepoint distribution
  * — the character-diversity quality signal (boilerplate / repeated-char
  * junk scores low). Stays inside WholeStageCodegen next to the other
  * quality predicates, so the filter pipeline remains one generated loop.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(input: Any): Any =
    TextKernels.charEntropy(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.charEntropy($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

/** Per-document n-gram histogram, computed in-row: all word n-grams for
  * n in [1, maxN] of a token array, with their within-document counts, as
  * `array<struct<token, tf>>`.
  *
  * This replaces `explode(everygrams(...))` + `groupBy(doc, token).count()`
  * for PER-DOCUMENT counting. A document's tokens all live in its own row,
  * so its histogram needs no cross-partition data — yet the explode+groupBy
  * formulation routes every n-gram instance (~6x the token count at
  * maxN=6) through a hash-aggregation exchange just to re-establish that
  * locality. At corpus scale that exchange is the single largest shuffle
  * in the vspace pipeline; this kernel computes the same histogram in one
  * pass and leaves (token)-keyed aggregation as the pipeline's only
  * remaining shuffle. (The reference counts per-doc in-process too —
  * `base.py:165-188`'s Python Counter — this is the Catalyst-native form.)
  */
case class NGramCounts(child: Expression, maxN: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("token", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("tf", org.apache.spark.sql.types.IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "ngram_counts"

  override def nullSafeEval(input: Any): Any =
    NGramKernel.counts(input.asInstanceOf[ArrayData], maxN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NGramKernel.counts($c, $maxN)")

  override protected def withNewChildInternal(newChild: Expression): NGramCounts =
    copy(child = newChild)
}

object NGramKernel {
  private val Space = UTF8String.fromString(" ")

  private val Empty: ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))

  /** Shared zero-element array — the null-input result of the fused n-gram
    * expressions (their composed twins' `when(size(tokens) >= n, ...)`
    * guard has a null condition for null input and falls to the
    * `otherwise(array())` branch, so the composed forms yield EMPTY, never
    * null). Immutable and element-type-agnostic, so one instance serves
    * both the string-gram and gram-hash kernels. */
  def emptyArray: ArrayData = Empty

  /** One-pass distinct n-grams, first-occurrence order — the kernel behind
    * [[WordNgramsDistinct]]. Null tokens are skipped within a gram
    * (UTF8String.concatWs skips nulls, exactly like array_join). */
  def distinctGrams(arr: ArrayData, n: Int): ArrayData = {
    val total = arr.numElements()
    if (total < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](0))
    val toks = new Array[UTF8String](total)
    var i = 0
    while (i < total) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[UTF8String]((total - n + 1) * 2)
    var start = 0
    while (start + n <= total) {
      val gram =
        if (n == 1) {
          val t = toks(start)
          if (t == null) UTF8String.EMPTY_UTF8 else t
        } else UTF8String.concatWs(Space,
          java.util.Arrays.copyOfRange(toks, start, start + n): _*)
      seen.add(gram)
      start += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** One-pass n-gram counting over a token array; insertion-ordered output
    * (first occurrence first — deterministic, though consumers aggregate or
    * sort anyway). Called from both interpreted eval and generated code. */
  def counts(arr: ArrayData, maxN: Int): ArrayData = {
    val n = arr.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
    val m = new java.util.LinkedHashMap[UTF8String, Array[Int]]()
    var len = 1
    while (len <= maxN) {
      var start = 0
      while (start + len <= n) {
        val gram =
          if (len == 1) toks(start)
          else UTF8String.concatWs(Space,
            java.util.Arrays.copyOfRange(toks, start, start + len): _*)
        val c = m.get(gram)
        if (c == null) m.put(gram, Array(1)) else c(0) += 1
        start += 1
      }
      len += 1
    }
    val out = new Array[Any](m.size())
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = org.apache.spark.sql.catalyst.InternalRow(e.getKey, e.getValue()(0))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Z-order (Morton) key: bit-interleave of n non-negative long columns
  * into one long — the multi-dimensional clustering key for data LAYOUT.
  * Sorting/range-partitioning a table by `zorder_key(x, y, ...)` before
  * writing gives every dimension comparable file-level locality, so range
  * predicates on ANY of the interleaved dimensions touch a bounded subset
  * of files (a linear sort by (x, y) is perfect on x and useless on y).
  * At 100 TB this is what turns "filter on a non-partition column" from a
  * full scan into a stats-pruned read — parquet min/max row-group stats
  * and file pruning both feed on the clustering this key creates
  * (ZOrderSpec measures the effect directly).
  *
  * Inputs are truncated to the low floor(63/n) bits each (callers
  * normalize to rank-like non-negative ints first — e.g. ntile or a
  * bounded modulus); nulls propagate. Codegen'd, loop-free per row.
  */
case class ZOrderKey(children: Seq[Expression])
    extends Expression with ExpectsInputTypes {

  require(children.nonEmpty, "zorder_key needs at least one column")

  override def inputTypes: Seq[DataType] =
    children.map(_ => org.apache.spark.sql.types.LongType)
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "zorder_key"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = new Array[Long](children.length)
    var i = 0
    while (i < vals.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      vals(i) = v.asInstanceOf[Long]
      i += 1
    }
    ZOrderKernel.interleave(vals)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evals = children.map(_.genCode(ctx))
    val arr = ctx.freshName("zvals")
    val childEval = evals.map(_.code.toString).mkString("\n")
    val nullCheck = evals.map(_.isNull.toString).mkString(" || ")
    val fill = evals.zipWithIndex
      .map { case (e, i) => s"$arr[$i] = ${e.value};" }.mkString("\n")
    ev.copy(code =
      code"""
        $childEval
        boolean ${ev.isNull} = $nullCheck;
        long ${ev.value} = 0L;
        if (!${ev.isNull}) {
          long[] $arr = new long[${children.length}];
          $fill
          ${ev.value} = graft.functions.ZOrderKernel.interleave($arr);
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ZOrderKey =
    copy(children = newChildren)
}

object ZOrderKernel {
  /** Interleave the low floor(63/n) bits of each value: output bit
    * `b*n + c` = bit `b` of value `c`. Shared by interpreted eval and
    * generated code. */
  def interleave(vals: Array[Long]): Long = {
    val n = vals.length
    val bitsPer = 63 / n
    var out = 0L
    var b = 0
    while (b < bitsPer) {
      var c = 0
      while (c < n) {
        out |= ((vals(c) >>> b) & 1L) << (b * n + c)
        c += 1
      }
      b += 1
    }
    out
  }
}

/** Codegen'd dot product of two array<double> vectors — the hot kernel of
  * every similarity/dedup path (cosine verification, kNN scoring, centroid
  * assignment). Spark's own `aggregate`/`zip_with` formulation is correct
  * but NEVER enters WholeStageCodegen (higher-order functions are
  * interpreted, with a lambda-variable box per element); this expression
  * is one fused primitive loop. Accumulation order is the same sequential
  * left fold, so results are bit-identical to the HOF form (and to
  * DuckDB's list fold, which the q35 oracle depends on).
  *
  * Null semantics match `aggregate(zip_with(a, b, _*_), 0.0, _+_)`:
  * null if either input, any element, or — via zip_with's null padding —
  * the length parity is off (mismatched lengths yield null).
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd space-delimited token count — the result of
  * `size(split(s, " ", -1))` without materializing the array of token
  * strings: one byte scan, zero allocation. Normally introduced by the
  * optimizer rewrite [[graft.plans.TokenCountRewrite]], which replaces
  * that exact pattern wherever it appears (the idiom behind word counts,
  * fertility denominators, and length features throughout the catalog);
  * also registered as SQL `token_count`.
  */
case class TokenCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "token_count"

  override def nullSafeEval(input: Any): Any =
    TextKernels.tokenCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.tokenCount($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

/** Codegen'd Jaro-Winkler similarity (standard Winkler parameters: prefix
  * scale 0.1, prefix cap 4, boost when jaro > 0.7; empty input -> 0.0).
  * The record-linkage scorer behind the blocked fuzzy-match join: stays
  * inside WholeStageCodegen so the candidate-pair scoring loop is one
  * generated function, not a UDF call per pair.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(l: Any, r: Any): Any =
    TextKernels.jaroWinkler(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.TextKernels.jaroWinkler($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

/** Fused 64-family MinHash signature: for each hash family i in
  * [0, numHashes), the minimum over the input array of
  * `xxhash64(seed = i, element)` — exactly the value of
  * `array_min(transform(h, x => xxhash64_seeded(i, x)))`, but all
  * families in ONE pass over the array.
  *
  * Why this exists: higher-order functions never enter WholeStageCodegen
  * (each is an interpreted evaluator with a lambda-variable box per
  * element), so the column-per-family formulation walks the shingle-hash
  * array 64 times per document with per-element boxing — measured as the
  * dominant map-side CPU of the LSH candidate stage at pipeline scale.
  * This kernel reads each element once into a register and folds it into
  * all 64 running minima (the inner loop is 64 iterations of the public
  * `XXH64.hashLong` long fast path — branch-free, allocation-free), and
  * the expression itself is codegen'd so the whole signature pipeline
  * stays inside the generated stage.
  *
  * Equivalence contract (spec'd against the column-per-family form in
  * MinHashSpec): a null element hashes to its family seed (Catalyst's
  * HashExpression leaves the running hash at the seed for null input);
  * an empty or null-min-less array yields null elements exactly where
  * `array_min` would (empty -> all-null signature). A NULL input array
  * propagates to a NULL signature (standard nullSafeEval; note the
  * composed form wrapped in `array(col1..colK)` would instead give an
  * array of K nulls — unreachable divergence: `MinHash.shingles` and
  * `word_ngram_hashes` never yield null). Family quality is
  * unchanged — this is the same public XxHash64 family, same seeds.
  */
case class MinHashSignatures(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(numHashes > 0, "minhash_signatures needs at least one family")

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(org.apache.spark.sql.types.LongType))
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = true)
  override def prettyName: String = "minhash_signatures"

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.signatures(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashKernel.signatures($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatures =
    copy(child = newChild)
}

object MinHashKernel {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  /** One pass over the hash array, k running minima. Shared by interpreted
    * eval and generated code. */
  def signatures(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0)
      // array_min(empty) = null per family
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](k))
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var j = 0
    while (j < n) {
      if (arr.isNullAt(j)) {
        // xxhash64(seed=i, null) leaves the hash at the seed, and
        // array_min folds that seed value in
        var i = 0
        while (i < k) { if (i < mins(i)) mins(i) = i.toLong; i += 1 }
      } else {
        val x = arr.getLong(j)
        var i = 0
        while (i < k) {
          val h = XXH64.hashLong(x, i.toLong)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

/** Fused exact set-Jaccard over two string arrays: exactly
  * `size(array_intersect(a, b)) / size(array_union(a, b))` under default
  * (non-ANSI) SQL (set semantics — duplicates and null elements
  * deduplicate; both-empty input is 0/0 and returns NULL exactly like the
  * built-in division — ANSI mode's built-in would instead RAISE
  * DIVIDE_BY_ZERO; callers' candidate shingle arrays are never empty, and
  * a NULL, unlike the NaN an earlier revision returned, correctly FAILS a
  * `jac >= threshold` filter on the SQL surface), computed in one pass
  * with two hash sets and NO materialized intermediate arrays. The
  * built-in formulation allocates the full intersection AND union arrays
  * per row just to take their sizes; this kernel allocates only the two
  * sets. Measured impact on the 2.3 GB pipeline's verify stage: NEUTRAL
  * within the host-variance band (the stage is dominated by the
  * explode-join-regroup shuffle of shingle arrays, not by per-pair set
  * math) — kept as a per-row allocation reduction whose value grows with
  * array width. Codegen'd, so pair scoring stays inside the generated
  * stage.
  */
case class SetJaccard(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType
  // both-empty input yields null even when neither child is null
  override def nullable: Boolean = true
  override def prettyName: String = "set_jaccard"

  override def nullSafeEval(l: Any, r: Any): Any =
    TextKernels.setJaccard(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("jac")
      s"""
         |java.lang.Double $boxed = graft.functions.TextKernels.setJaccard($a, $b);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SetJaccard =
    copy(left = newLeft, right = newRight)
}

/** [[SetJaccard]] over array<long> — for shingle sets carried as 8-byte
  * hashes (e.g. `array_distinct(word_ngram_hashes(...))`). Jaccard over
  * hashed shingles equals Jaccard over the shingle strings except on a
  * 64-bit collision (~n²/2⁶⁵ per pair — the same accepted class as the
  * hashed gram stats and the q89 window keys), and the hashed arrays are
  * ~4-5x smaller through a shuffle: the lever that removes the LAST
  * corpus-derived strings from the data pipeline's exchanges (its verify
  * stage regroups per-candidate shingle arrays). Same null/empty
  * semantics as the string form. */
case class SetJaccardHashes(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  // both-empty input yields null even when neither child is null
  override def nullable: Boolean = true
  override def prettyName: String = "set_jaccard_hashes"

  /** Both children's ELEMENT schemas null-free (the common shape:
    * `word_ngram_hashes` output, with or without array_distinct) → the
    * bulk-copy kernel; any nullable element side → the per-element general
    * kernel. Same value either way (SetJaccardSpec pins both paths). */
  private def noNullElements: Boolean = Seq(left, right).forall {
    _.dataType match {
      case ArrayType(_, containsNull) => !containsNull
      case _ => false
    }
  }

  private def kernelName: String =
    if (noNullElements) "setJaccardLongsNoNulls" else "setJaccardLongs"

  override def nullSafeEval(l: Any, r: Any): Any =
    if (noNullElements)
      TextKernels.setJaccardLongsNoNulls(
        l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    else
      TextKernels.setJaccardLongs(
        l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("jac")
      s"""
         |java.lang.Double $boxed = graft.functions.TextKernels.$kernelName($a, $b);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SetJaccardHashes =
    copy(left = newLeft, right = newRight)
}

/** Fused word-n-gram hashing: for every n-token window of a token array,
  * the XxHash64 (with `seed`) of the space-joined gram — BIT-EQUAL to
  * `transform(word_ngrams(tokens, n), g => xxhash64_seeded(seed, g))`
  * (Catalyst hashes a string as XXH64 over its UTF-8 bytes; this kernel
  * assembles each gram's bytes in a reused thread-local scratch buffer and
  * calls the same public `XXH64.hashUnsafeBytes`), without EVER
  * materializing a gram string. Fewer than n tokens yields an empty array,
  * matching word_ngrams' `when(size >= n)` guard.
  *
  * Why: every n-gram consumer that only needs gram IDENTITY (decontam
  * semi-joins, shingle base hashes for MinHash signatures) was paying one
  * string concatenation per position per document — at pipeline scale
  * hundreds of millions of short-lived UTF8String allocations whose bytes
  * are immediately hashed and discarded. Null tokens (impossible from
  * `split`, the only caller shape) fall back to the exact array_join
  * semantics (nulls skipped) via the string path, keeping bit-equality on
  * every input. A NULL input array yields an EMPTY array — the composed
  * twin's `when(size >= n)` guard has a null condition on null input and
  * falls to `otherwise(array())` — so this expression is never null.
  */
case class WordNgramHashes(child: Expression, n: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {

  require(n > 0, "word_ngram_hashes needs n >= 1")

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(StringType))
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "word_ngram_hashes"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) NGramKernel.emptyArray
    else NgramHashKernel.hashes(v.asInstanceOf[ArrayData], n, seed)
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
            : graft.functions.NgramHashKernel.hashes(${childGen.value}, $n, ${seed}L);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgramHashes =
    copy(child = newChild)
}

object NgramHashKernel {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.unsafe.Platform
  import org.apache.spark.unsafe.types.UTF8String

  private val scratch = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1 << 10)
  }

  def hashes(arr: ArrayData, n: Int, seed: Long): ArrayData = {
    val total = arr.numElements()
    val cnt = total - n + 1
    if (cnt <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.emptyLongArray)
    val toks = new Array[UTF8String](total)
    var hasNull = false
    var i = 0
    while (i < total) {
      if (arr.isNullAt(i)) hasNull = true else toks(i) = arr.getUTF8String(i)
      i += 1
    }
    if (hasNull) return hashesWithNulls(toks, n, seed, cnt)
    val out = new Array[Long](cnt)
    var start = 0
    while (start < cnt) {
      // gram bytes = tok(start) ++ ' ' ++ ... ++ tok(start+n-1)
      var len = n - 1
      var j = start
      while (j < start + n) { len += toks(j).numBytes; j += 1 }
      var buf = scratch.get()
      if (buf.length < len) {
        buf = new Array[Byte](java.lang.Integer.highestOneBit(len) * 2)
        scratch.set(buf)
      }
      var pos = Platform.BYTE_ARRAY_OFFSET
      j = start
      while (j < start + n) {
        if (j > start) { Platform.putByte(buf, pos, ' '.toByte); pos += 1 }
        val t = toks(j)
        Platform.copyMemory(t.getBaseObject, t.getBaseOffset, buf, pos,
          t.numBytes)
        pos += t.numBytes
        j += 1
      }
      out(start) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, seed)
      start += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Rare path (null tokens — impossible from split()): reproduce
    * word_ngrams' array_join semantics exactly (nulls skipped, no
    * doubled separators) by building the gram string. */
  private def hashesWithNulls(toks: Array[UTF8String], n: Int, seed: Long,
      cnt: Int): ArrayData = {
    val out = new Array[Long](cnt)
    var start = 0
    while (start < cnt) {
      val parts = (start until start + n).map(toks(_)).filter(_ != null)
      val gram = UTF8String.concatWs(UTF8String.fromString(" "), parts: _*)
      out(start) = XXH64.hashUnsafeBytes(gram.getBaseObject,
        gram.getBaseOffset, gram.numBytes, seed)
      start += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Seed of Spark's built-in `xxhash64(col)` — countHashes uses it so a
    * gram's hash equals `xxhash64(gram_string)` and dictionary sides
    * (vocabulary, oracles) can hash plain strings with the built-in. */
  val BuiltinSeed = 42L

  /** HASH-keyed per-document n-gram histogram: all word n-grams for n in
    * [1, maxN] as `(h = xxhash64(gram_string), n, tf, tok)` where `tok`
    * carries the token STRING for unigrams only (`null` for multigrams) —
    * the string join-back source for unigram stats, with multigram strings
    * recoverable from the (small) vocabulary after its membership filter.
    *
    * Same per-doc semantics as [[NGramKernel.counts]] (insertion-ordered,
    * one entry per distinct gram) but no gram STRING is ever materialized:
    * gram bytes are assembled in a reused scratch buffer and hashed, and
    * the histogram is an open-addressed long-keyed table instead of a
    * string-keyed LinkedHashMap. Two grams colliding on the full 64 bits
    * merge (their tfs sum, the first-seen n/tok win) — ~n²/2⁶⁵ odds,
    * checked against the string-operator witness in VspacePipelineSpec
    * rather than excluded by construction. */
  def countHashes(arr: ArrayData, maxN: Int): ArrayData = {
    val total = arr.numElements()
    val toks = new Array[UTF8String](total)
    var i = 0
    while (i < total) { toks(i) = arr.getUTF8String(i); i += 1 }
    var instances = 0L
    var len = 1
    while (len <= maxN) {
      val c = total - len + 1
      if (c > 0) instances += c
      len += 1
    }
    // The table caps at 2^30 slots; a document whose distinct grams could
    // FILL it would turn the linear-probe insert below into an infinite
    // loop. Fail fast instead: >2^29 gram instances in ONE document (a
    // multi-GB text) is a data error at any realistic scale.
    require(instances * 2 <= (1 << 30),
      s"ngram_count_hashes: document yields $instances n-gram instances, " +
      "beyond the 2^30-slot histogram — split the document upstream")
    var cap = 16
    while (cap < instances * 2 && cap < (1 << 30)) cap <<= 1
    val mask   = cap - 1
    val keys   = new Array[Long](cap)
    val filled = new Array[Boolean](cap)
    val cnts   = new Array[Int](cap)
    val ns     = new Array[Int](cap)
    val tokAt  = new Array[UTF8String](cap)
    val order  = new Array[Int](instances.min(cap.toLong).toInt)
    var m = 0
    len = 1
    while (len <= maxN) {
      val lim = total - len
      var start = 0
      while (start <= lim) {
        var h = 0L
        var tok: UTF8String = null
        if (len == 1) {
          tok = toks(start)
          h = XXH64.hashUnsafeBytes(tok.getBaseObject, tok.getBaseOffset,
            tok.numBytes, BuiltinSeed)
        } else {
          var blen = len - 1
          var j = start
          while (j < start + len) { blen += toks(j).numBytes; j += 1 }
          var buf = scratch.get()
          if (buf.length < blen) {
            buf = new Array[Byte](java.lang.Integer.highestOneBit(blen) * 2)
            scratch.set(buf)
          }
          var pos = Platform.BYTE_ARRAY_OFFSET
          j = start
          while (j < start + len) {
            if (j > start) { Platform.putByte(buf, pos, ' '.toByte); pos += 1 }
            val t = toks(j)
            Platform.copyMemory(t.getBaseObject, t.getBaseOffset, buf, pos,
              t.numBytes)
            pos += t.numBytes
            j += 1
          }
          h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, blen,
            BuiltinSeed)
        }
        var slot = ((h ^ (h >>> 32)).toInt) & mask
        while (filled(slot) && keys(slot) != h) slot = (slot + 1) & mask
        if (!filled(slot)) {
          filled(slot) = true
          keys(slot) = h
          cnts(slot) = 1
          ns(slot) = len
          tokAt(slot) = tok
          order(m) = slot
          m += 1
        } else cnts(slot) += 1
        start += 1
      }
      len += 1
    }
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val s = order(j)
      out(j) = org.apache.spark.sql.catalyst.InternalRow(
        keys(s), ns(s), cnts(s), tokAt(s))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Hash-keyed [[NGramCounts]] — the per-doc histogram with 8-byte gram
  * hashes in place of gram strings (`array<struct<h, n, tf, tok>>`; `tok`
  * is the unigram string, null for multigrams). Motivation (round-12
  * vspace stage laps): the exploded ≤6-gram stream is the pipeline's
  * dominant cost, and every downstream byte — the counts block-store
  * materialization, the vocabulary-filter probe, both stats exchanges —
  * carries the gram STRING only so the final vocab-sized report can print
  * it. Keying by `xxhash64(gram_string)` (computed without materializing
  * the string, [[NgramHashKernel.countHashes]]) shrinks all of that to
  * fixed-width rows; strings rejoin at the stats OUTPUT from the unigram
  * `tok` carry + the broadcast vocabulary dictionary. */
case class NGramCountHashes(child: Expression, maxN: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(maxN > 0, "ngram_count_hashes needs maxN >= 1")

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("tf",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("tok", StringType,
        nullable = true))),
    containsNull = false)
  override def prettyName: String = "ngram_count_hashes"

  override def nullSafeEval(input: Any): Any =
    NgramHashKernel.countHashes(input.asInstanceOf[ArrayData], maxN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NgramHashKernel.countHashes($c, $maxN)")

  override protected def withNewChildInternal(newChild: Expression): NGramCountHashes =
    copy(child = newChild)
}

/** Fused distinct word-n-grams: the BIT-IDENTICAL result of
  * `array_distinct(word_ngrams(tokens, n))` — each n-token window
  * space-joined, first-occurrence order, fewer-than-n tokens yielding an
  * empty array — in ONE pass. The composed form is interpreted end to end
  * (word_ngrams is transform+slice+array_join — a lambda box, a sub-array
  * allocation, and an interpreted join per position — and array_distinct
  * re-walks the result into a set); measured as the dominant CPU of every
  * shingle consumer at pipeline scale. Null tokens are skipped inside a
  * gram exactly like array_join does (impossible from `split`, the only
  * caller shape, but pinned for equality on every input). A NULL input
  * array yields an EMPTY array, exactly like the composed twin (its
  * `when(size >= n)` guard falls to `otherwise(array())` on null input) —
  * so this expression is never null.
  */
case class WordNgramsDistinct(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n > 0, "word_ngrams_distinct needs n >= 1")

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "word_ngrams_distinct"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) NGramKernel.emptyArray
    else NGramKernel.distinctGrams(v.asInstanceOf[ArrayData], n)
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
            : graft.functions.NGramKernel.distinctGrams(${childGen.value}, $n);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgramsDistinct =
    copy(child = newChild)
}

/** Membership probe of a broadcast long-key Bloom filter — the map-side
  * participant prefilter of the near-dup operator (`operators.NearDup`):
  * the driver folds the ids that can take part in a stage (candidate
  * participants, keep-best losers) into a Bloom filter, and rows that
  * miss it skip the stage's exchange. False negatives are impossible in a
  * Bloom filter, so results are identical to the unfiltered form; false
  * positives only let a non-participant through to a join that drops it.
  * Codegen'd; the filter rides the closure as a Spark broadcast (one copy
  * per executor, not per task).
  */
case class BloomMightContainLong(child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "bloom_might_contain_long"

  override def nullSafeEval(input: Any): Any =
    bloom.value.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // one executor-local filter deref per ROW is a volatile read inside
    // Broadcast.value; hoist the deref to a lazily-initialized mutable
    // state slot so the per-row probe is a plain field access
    val bloomRef = ctx.addReferenceObj("bloomBc", bloom,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val filterVar = ctx.addMutableState(
      classOf[org.apache.spark.util.sketch.BloomFilter].getName, "bloomFilter",
      v => s"$v = (org.apache.spark.util.sketch.BloomFilter) $bloomRef.value();")
    defineCodeGen(ctx, ev, c => s"$filterVar.mightContainLong($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainLong =
    copy(child = newChild)
}
