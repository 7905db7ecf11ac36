package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

import graft.parity.RefText

/** Native Catalyst expressions for the hot-path predicates — the v2
  * surface SURVEY.md §2.9/§7.3 calls for: unlike a Scala UDF, a
  * codegen'd Expression participates in whole-stage codegen (no
  * serialization boundary, no InternalRow→Row conversion per call).
  *
  * The semantics delegate to the golden-tested [[RefText]] port; only
  * the evaluation plumbing is Catalyst-specific.
  */
case class IsNumericToken(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "farm_is_numeric_token_native"

  override def nullSafeEval(input: Any): Any =
    RefText.isNumericToken(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.parity.RefText.isNumericToken($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** starts_with_name as a codegen'd expression (the most frequently
  * evaluated predicate in the pipeline: three call sites per line). */
case class StartsWithName(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "farm_starts_with_name_native"

  override def nullSafeEval(input: Any): Any =
    RefText.startsWithName(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.parity.RefText.startsWithName($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** is_header_text (lambda_function.py:136-156) as one codegen'd
  * expression: the text lower-cased once (`UTF8String.toLowerCase`),
  * then a byte search per header phrase; null in, null out. As an OR
  * of 22 `lower(text).contains(p)` Columns, the optimizer inlined the
  * input expression (a `trim`) into every term. */
case class IsHeader(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "farm_is_header"

  override def nullSafeEval(input: Any): Any =
    IsHeader.matches(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.IsHeader.matches($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IsHeader {
  private val phrases: Array[UTF8String] =
    RefText.headerPhrases.map(UTF8String.fromString).toArray

  def matches(text: UTF8String): Boolean = {
    val lower = text.toLowerCase
    var i = 0
    while (i < phrases.length && !lower.contains(phrases(i))) i += 1
    i < phrases.length
  }
}

/** Dot product of two Array[Float] columns in double precision —
  * an ordered left-to-right fold, bit-identical to
  * `aggregate(zip_with(a, b, (x,y) => double(x)*double(y)), 0.0, +)`
  * but codegen'd: the higher-order-function route is CodegenFallback
  * (interpreted, per-element boxing), which dominates pairwise
  * similarity scans. */
case class FloatVecDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "float_vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $sum = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $sum += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
        }
        ${ev.value} = $sum;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Quantized dot product: Σ floor(aᵢ·bᵢ·10⁹) as BIGINT. Each f32×f32
  * product is exact in f64 and floor-quantization is per-term, so the
  * sum is an INTEGER sum — associative, order-insensitive, identical
  * on every engine and under any parallelism. Use this instead of
  * [[FloatVecDot]] whenever the score itself is OUTPUT and compared
  * across engines: an IEEE double sum is deterministic per engine
  * only for a fixed summation order, and a SQL oracle's
  * decorrelated-aggregate order can shift with its own parallelism
  * (observed: same DuckDB query, same data, 1-ulp different cosine
  * between runs). Costs 1e-9 per-term precision — irrelevant for
  * ranking scores.
  */
case class FloatVecDotQ(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "float_vec_dot_q"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0L
    var i = 0
    while (i < n) {
      sum += math.floor(
        x.getFloat(i).toDouble * y.getFloat(i).toDouble * 1e9).toLong
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $sum = 0L;
        for (int $i = 0; $i < $n; $i++) {
          $sum += (long) java.lang.Math.floor(
            ((double) $a.getFloat($i)) * ((double) $b.getFloat($i)) * 1.0E9);
        }
        ${ev.value} = $sum;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Quantized squared L2 distance: Σ floor((aᵢ−bᵢ)²·10⁶) as BIGINT.
  * Same determinism argument as [[FloatVecDotQ]]: f32−f32 is exact in
  * f64, the square and ×10⁶ are fixed-order IEEE products identical
  * in any engine, floor is per-term, and integer sums are associative
  * — so an argmin/compare over this distance is bit-reproducible
  * under any partial-agg order. The product-quantization codebook
  * assignment (`sim_pq_encode`) runs on it.
  */
case class FloatVecL2Q(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "float_vec_l2_q"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0L
    var i = 0
    while (i < n) {
      val diff = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      sum += math.floor(diff * diff * 1e6).toLong
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val diff = ctx.freshName("diff")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $sum = 0L;
        for (int $i = 0; $i < $n; $i++) {
          double $diff = ((double) $a.getFloat($i)) - ((double) $b.getFloat($i));
          $sum += (long) java.lang.Math.floor($diff * $diff * 1.0E6);
        }
        ${ev.value} = $sum;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Minimum md5 over all k-char windows of a string — the winnowing
  * fingerprint of `txt_fingerprint`, fused into ONE expression call
  * per row: windows i = 0 until max(len-k+1, 1), window text
  * `substr(s, i, k)` (clamped at the end like SQL substr), min taken
  * over the HEX digests lexicographically. Equal to
  * `MIN(md5(substr(s, i, k)))` over an exploded series, but with no
  * Generate, no 10⁶-row aggregation, no shuffle — and one REUSED
  * MessageDigest instead of a JCA lookup per window (Spark's `md5`
  * goes through DigestUtils.getInstance each call). Min is tracked
  * over raw digest bytes (unsigned compare ≡ hex-string order) and
  * hex-encoded once at the end.
  *
  * Byte-slice windows equal character windows only for ASCII input;
  * the expression detects any non-ASCII byte and falls back to
  * per-window character substrings, so semantics match the SQL form
  * for arbitrary input.
  */
case class MinMd5Window(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "min_md5_window"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      HashImpls.minMd5Window(input.asInstanceOf[UTF8String].toString, k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""UTF8String.fromString(
            graft.functions.HashImpls.minMd5Window($c.toString(), $k))""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Content-defined-chunking boundary count: how many k-code-point
  * windows of the input have `polyhash % div == 0` (the FastCDC-style
  * boundary test with expected chunk length ≈ div). Same B=31,
  * M=1e9+7 polynomial as [[RollingMinHash]], computed O(n) rolling;
  * the oracle recomputes every window quadratically. 0 when no full
  * window exists.
  */
case class RollingModCount(child: Expression, k: Int, div: Long)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "rolling_mod_count"

  override def nullSafeEval(input: Any): Any =
    HashImpls.rollingModCount(input.asInstanceOf[UTF8String].toString, k, div)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashImpls.rollingModCount($c.toString(), $k, ${div}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing fingerprint via a polynomial rolling hash: the minimum
  * over all k-code-point windows of
  * `sum(cp[i+j] * B^(k-1-j)) mod M` (B=31, M=1e9+7). Evaluated in
  * O(n) with the rolling update — each step drops the leading term
  * and shifts — versus the O(n·k) per-window recompute a SQL engine
  * does; the values are identical, which is what the DuckDB oracle
  * checks. Returns null when the input has fewer than k code points —
  * there is no full window, and a shrunken-window hash would neither
  * match the k-gram formula nor be comparable across documents.
  */
case class RollingMinHash(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "rolling_min_hash"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    HashImpls.rollingMinHash(s, k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val out = ctx.freshName("out")
    nullSafeCodeGen(ctx, ev, c => s"""
      Long $out = graft.functions.HashImpls.rollingMinHash($c.toString(), $k);
      if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Every k-code-point window hash of the input — the exact-substring
  * dedup primitive (Lee et al. 2022 dedups training corpora on
  * repeated spans, not whole documents): the same B=31, M=1e9+7
  * polynomial as [[RollingMinHash]], but ALL n−k+1 window values are
  * returned for corpus-wide span counting instead of the per-doc min.
  * O(n) one pass, one long[] allocation — versus n−k+1 substring
  * allocations for the explode(substr)+hash formulation. Empty array
  * when no full window exists (the doc simply contributes no spans).
  */
case class RollingHashAll(child: Expression, k: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, LongType}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_hash_all"

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      HashImpls.rollingHashAll(input.asInstanceOf[UTF8String].toString, k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""new org.apache.spark.sql.catalyst.util.GenericArrayData(
            graft.functions.HashImpls.rollingHashAll($c.toString(), $k))""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document character-histogram statistics in one O(n·log n)
  * pass: `[n_cps, n_distinct, Σ count(ch)²]` over the document's code
  * points. The squared-count sum is the unnormalized collision
  * probability (Rényi-2 / Simpson index) — the gibberish/spam
  * detector that needs NO logarithm: dividing by n² gives the chance
  * two random positions hold the same character, high for
  * low-diversity junk ("aaaa…", repeated separators) and low for
  * natural text. Everything is exact integer arithmetic, so the
  * result is engine-comparable (a Shannon-entropy variant would hang
  * the oracle on log() ulp differences — JVM Math.log is not
  * correctly rounded). The SQL equivalent explodes one row per
  * character and re-aggregates twice; this is a narrow map.
  */
case class CharHistStats(child: Expression)
    extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, LongType}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_hist_stats"

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      HashImpls.charHistStats(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""new org.apache.spark.sql.catalyst.util.GenericArrayData(
            graft.functions.HashImpls.charHistStats($c.toString()))""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Multi-seed MinHash signature over k-code-point shingles, fused
  * into one pass: the k-gram polynomial rolling hash h_i (B=31,
  * M=1e9+7) is computed once per window, and each seed s keeps
  * `min_i (a_s * h_i + b_s) mod M` — the classic universal-hash
  * MinHash family. Replaces the explode(shingles) → 4×md5 → groupBy
  * formulation: same signature semantics, but a pure narrow map (no
  * shuffle, no per-shingle string allocation), which is what survives
  * a 100 TB corpus. Returns null when the input has fewer than k code
  * points (no full shingle window).
  */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, LongType}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val r = HashImpls.minhashSig(input.asInstanceOf[UTF8String].toString, k)
    if (r == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val out = ctx.freshName("out")
    nullSafeCodeGen(ctx, ev, c => s"""
      long[] $out = graft.functions.HashImpls.minhashSig($c.toString(), $k);
      if ($out == null) { ${ev.isNull} = true; }
      else { ${ev.value} =
        new org.apache.spark.sql.catalyst.util.GenericArrayData($out); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared hash kernels for the interpreted and generated paths.
  *
  * A standalone top-level object (no companion class) compiles with
  * static forwarders on the `HashImpls` class, so Janino-generated
  * code can call `graft.functions.HashImpls.rollingMinHash(...)`
  * directly. The case-class companions (`RollingMinHash`,
  * `MinHashSig`) get no such forwarders — generated code referencing
  * them fails to compile and Spark silently falls back to interpreted
  * eval for the whole stage.
  */
object HashImpls {
  val B = 31L
  val M = 1000000007L

  private val HEX = "0123456789abcdef".toCharArray

  /** See [[MinMd5Window]]. Windows over bytes when the input is pure
    * ASCII (== char windows there), per-window char substrings
    * otherwise. */
  def minMd5Window(s: String, k: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var ascii = true
    var j = 0
    while (ascii && j < bytes.length) { if (bytes(j) < 0) ascii = false; j += 1 }
    var min: Array[Byte] = null
    if (ascii) {
      val n = math.max(bytes.length - k + 1, 1)
      var i = 0
      while (i < n) {
        md.update(bytes, i, math.min(k, bytes.length - i))
        val d = md.digest() // digest() resets for reuse
        if (min == null || unsignedLess(d, min)) min = d
        i += 1
      }
    } else {
      // Code-point windows (SQL substr semantics), not UTF-16 units.
      val cps = s.codePoints().toArray
      val n = math.max(cps.length - k + 1, 1)
      var i = 0
      while (i < n) {
        val w = new String(cps, i, math.min(k, cps.length - i))
        md.update(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val d = md.digest()
        if (min == null || unsignedLess(d, min)) min = d
        i += 1
      }
    }
    val out = new Array[Char](32)
    var b = 0
    while (b < 16) {
      out(2 * b) = HEX((min(b) >> 4) & 0xf)
      out(2 * b + 1) = HEX(min(b) & 0xf)
      b += 1
    }
    new String(out)
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Affine seeds (a_s, b_s); mirrored literally in the DuckDB oracle
    * SQL (Dedup.signaturesSql). a_s < M keeps a_s * h < M² < 2^63. */
  val SEED_A: Array[Long] = Array(1000003L, 1000033L, 1000211L, 1000231L)
  val SEED_B: Array[Long] = Array(7L, 11L, 13L, 17L)

  /** Boxed so the no-full-window case can signal null. */
  def rollingMinHash(s: String, k: Int): java.lang.Long = {
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n < k) return null
    val w = k
    // B^(w-1) mod M for the drop-leading-term step
    var bTop = 1L
    var j = 1
    while (j < w) { bTop = bTop * B % M; j += 1 }
    var h = 0L
    var i = 0
    while (i < w) { h = (h * B + cps(i)) % M; i += 1 }
    var minH = h
    i = w
    while (i < n) {
      h = ((h - cps(i - w) % M * bTop % M) % M + M) % M
      h = (h * B + cps(i)) % M
      if (h < minH) minH = h
      i += 1
    }
    minH
  }

  /** Count of k-code-point windows whose polynomial hash (same
    * B/M as [[rollingMinHash]]) is divisible by `div` — the
    * content-defined-chunking boundary count. O(n) rolling update;
    * 0 when no full window exists. */
  def rollingModCount(s: String, k: Int, div: Long): Long = {
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n < k) return 0L
    var bTop = 1L
    var j = 1
    while (j < k) { bTop = bTop * B % M; j += 1 }
    var h = 0L
    var i = 0
    while (i < k) { h = (h * B + cps(i)) % M; i += 1 }
    var count = if (h % div == 0L) 1L else 0L
    i = k
    while (i < n) {
      h = ((h - cps(i - k) % M * bTop % M) % M + M) % M
      h = (h * B + cps(i)) % M
      if (h % div == 0L) count += 1L
      i += 1
    }
    count
  }

  /** See [[RollingHashAll]]: all n−k+1 window hashes, empty when the
    * input is shorter than k code points. */
  def rollingHashAll(s: String, k: Int): Array[Long] = {
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n < k) return Array.emptyLongArray
    val out = new Array[Long](n - k + 1)
    var bTop = 1L
    var j = 1
    while (j < k) { bTop = bTop * B % M; j += 1 }
    var h = 0L
    var i = 0
    while (i < k) { h = (h * B + cps(i)) % M; i += 1 }
    out(0) = h
    i = k
    while (i < n) {
      h = ((h - cps(i - k) % M * bTop % M) % M + M) % M
      h = (h * B + cps(i)) % M
      out(i - k + 1) = h
      i += 1
    }
    out
  }

  def minhashSig(s: String, k: Int): Array[Long] = {
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n < k) return null
    val nSeeds = SEED_A.length
    val mins = Array.fill(nSeeds)(Long.MaxValue)
    var bTop = 1L
    var j = 1
    while (j < k) { bTop = bTop * B % M; j += 1 }
    var h = 0L
    var i = 0
    while (i < k) { h = (h * B + cps(i)) % M; i += 1 }
    var w = 0
    while (w < nSeeds) {
      val v = (SEED_A(w) * h + SEED_B(w)) % M
      if (v < mins(w)) mins(w) = v
      w += 1
    }
    i = k
    while (i < n) {
      h = ((h - cps(i - k) % M * bTop % M) % M + M) % M
      h = (h * B + cps(i)) % M
      w = 0
      while (w < nSeeds) {
        val v = (SEED_A(w) * h + SEED_B(w)) % M
        if (v < mins(w)) mins(w) = v
        w += 1
      }
      i += 1
    }
    mins
  }

  /** See [[CharHistStats]]: [n_cps, n_distinct, sum of squared
    * per-character counts] from one pass over the sorted code-point
    * array — no hash map, no per-character allocation. */
  def charHistStats(s: String): Array[Long] = {
    val cps = s.codePoints().toArray
    java.util.Arrays.sort(cps)
    val n = cps.length
    var distinct = 0L
    var sumSq = 0L
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && cps(j) == cps(i)) j += 1
      val c = (j - i).toLong
      distinct += 1L
      sumSq += c * c
      i = j
    }
    Array(n.toLong, distinct, sumSq)
  }
}

/** Deterministic mode: the most frequent value of a string column per
  * group, ties broken by the smaller value — unlike a `mode()` whose
  * survivor depends on row order, this is stable across partitionings
  * and engines (DuckDB-oracle-comparable). A `TypedImperativeAggregate`:
  * partial buffers are value→count maps, merged by summing — map-side
  * combine works, so the shuffle carries one map per (partition, group),
  * never raw rows. Buffer size is the group's distinct-value count:
  * right for categorical columns (event types, languages, statuses); a
  * wide-domain column at 100 TB needs a sketch (count-min / SpaceSaving)
  * and gives up exactness.
  */
case class ModeDet(child: Expression,
                   mutableAggBufferOffset: Int = 0,
                   inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[scala.collection.mutable.HashMap[String, Long]] {
  import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
  import scala.collection.mutable

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullable: Boolean = true
  override def prettyName: String = "mode_det"

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
                      input: org.apache.spark.sql.catalyst.InternalRow)
      : mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val k = v.asInstanceOf[UTF8String].toString
      buf.update(k, buf.getOrElse(k, 0L) + 1L)
    }
    buf
  }

  override def merge(b1: mutable.HashMap[String, Long],
                     b2: mutable.HashMap[String, Long])
      : mutable.HashMap[String, Long] = {
    for ((k, n) <- b2) b1.update(k, b1.getOrElse(k, 0L) + n)
    b1
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any =
    if (buf.isEmpty) null
    else {
      var bestK: String = null
      var bestN = -1L
      for ((k, n) <- buf)
        if (n > bestN || (n == bestN && k < bestK)) { bestK = k; bestN = n }
      UTF8String.fromString(bestK)
    }

  // Length-prefixed UTF-8, not writeUTF: modified-UTF caps entries at
  // 64 KB, which a long text value would hit mid-aggregation.
  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    for ((k, n) <- buf) {
      val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length); out.write(kb); out.writeLong(n)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val size = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < size) {
      val kb = new Array[Byte](in.readInt())
      in.readFully(kb)
      buf.update(new String(kb, java.nio.charset.StandardCharsets.UTF_8),
        in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ModeDet =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ModeDet =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Exact top-k rows per group (`top_k_pairs`): keeps the k best
  * (ord, value) pairs by (ord DESC, value ASC) in a bounded heap —
  * the map-side-combinable alternative to `row_number() OVER (...)
  * <= k`, which must SORT every group's full row set behind one
  * exchange. Here each partition's partial is a k-element heap, the
  * shuffle carries k pairs per (partition, group), and the merge is
  * heap-union-truncate — O(k) state regardless of group size, the
  * shape that survives a billion-row group. Exact selection by a
  * total order is merge-order-independent, so results are
  * deterministic under any partitioning (spec-pinned). Output is the
  * sorted array<struct<ord,value>>; callers explode it to ranked
  * rows. Quantize real-valued ordering keys to integers first (the
  * floor(x·10⁶) trick) — exactness of the boundary comparison is on
  * the caller.
  */
case class TopKRows(ordExpr: Expression, valueExpr: Expression, k: Int,
                    mutableAggBufferOffset: Int = 0,
                    inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[scala.collection.mutable.PriorityQueue[(Long, Long)]] {
  import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
  import scala.collection.mutable
  import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

  // Heap dequeues the WORST pair (smallest ord, then largest value),
  // so a full heap evicts correctly on insert.
  private val worstFirst: Ordering[(Long, Long)] =
    Ordering.by[(Long, Long), (Long, Long)] { case (o, v) => (-o, v) }

  override def children: Seq[Expression] = Seq(ordExpr, valueExpr)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ord", LongType), StructField("value", LongType))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k_pairs"

  override def createAggregationBuffer(): mutable.PriorityQueue[(Long, Long)] =
    mutable.PriorityQueue.empty(worstFirst)

  override def update(buf: mutable.PriorityQueue[(Long, Long)],
                      input: org.apache.spark.sql.catalyst.InternalRow)
      : mutable.PriorityQueue[(Long, Long)] = {
    val o = ordExpr.eval(input)
    val v = valueExpr.eval(input)
    if (o != null && v != null) {
      buf.enqueue((o.asInstanceOf[Long], v.asInstanceOf[Long]))
      if (buf.size > k) buf.dequeue()
    }
    buf
  }

  override def merge(b1: mutable.PriorityQueue[(Long, Long)],
                     b2: mutable.PriorityQueue[(Long, Long)])
      : mutable.PriorityQueue[(Long, Long)] = {
    for (p <- b2) { b1.enqueue(p); if (b1.size > k) b1.dequeue() }
    b1
  }

  override def eval(buf: mutable.PriorityQueue[(Long, Long)]): Any = {
    val sorted = buf.toArray.sortBy { case (o, v) => (-o, v) }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      sorted.map { case (o, v) =>
        org.apache.spark.sql.catalyst.InternalRow(o, v)
      }.toSeq)
  }

  override def serialize(buf: mutable.PriorityQueue[(Long, Long)]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    for ((o, v) <- buf) { out.writeLong(o); out.writeLong(v) }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte])
      : mutable.PriorityQueue[(Long, Long)] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val size = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < size) { buf.enqueue((in.readLong(), in.readLong())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKRows =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKRows =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(ordExpr = newChildren(0), valueExpr = newChildren(1))
}

/** SpaceSaving heavy hitters (`approx_top_k`): top-k values of a
  * string column with estimated counts and error bounds, in bounded
  * memory. The buffer holds at most `capacity` counters; a full
  * buffer evicts its minimum counter, charging its count to the
  * newcomer as `err` (Metwally et al.). Partials merge by summing,
  * with the absent side's minimum counter as that side's
  * contribution bound (mergeable-summaries form), then truncating
  * back to `capacity` — so the shuffle carries one fixed-size
  * summary per partition, never raw rows: the 100 TB replacement
  * for ModeDet's exact map when the value domain is wide.
  * Guarantees: est - err <= true count <= est for every reported
  * value, and any value with true count > est(min surviving counter)
  * is present. With capacity >= distinct(domain) the sketch
  * degenerates to EXACT counts with err = 0 — the DuckDB-checkable
  * configuration (`ev_heavy_hitters`); the sketch regime is pinned
  * by spec on constructed skew. Ties and truncation order break by
  * (count desc, value asc): deterministic output for a given merge
  * tree.
  */
case class ApproxTopK(child: Expression, k: Int, capacity: Int,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[scala.collection.mutable.HashMap[String, (Long, Long)]] {
  import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
  import scala.collection.mutable
  import org.apache.spark.sql.types._

  require(k >= 1 && capacity >= k, "need capacity >= k >= 1")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "approx_top_k"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", StringType), StructField("est", LongType),
    StructField("err", LongType))), containsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[String, (Long, Long)] =
    mutable.HashMap.empty

  /** Smallest counter, by (count, value) — the eviction victim. */
  private def minEntry(buf: mutable.HashMap[String, (Long, Long)])
      : (String, (Long, Long)) =
    buf.minBy { case (v, (c, _)) => (c, v) }

  override def update(buf: mutable.HashMap[String, (Long, Long)],
                      input: org.apache.spark.sql.catalyst.InternalRow)
      : mutable.HashMap[String, (Long, Long)] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String].toString
      buf.get(key) match {
        case Some((c, e)) => buf.update(key, (c + 1L, e))
        case None if buf.size < capacity => buf.update(key, (1L, 0L))
        case None =>
          val (victim, (minC, _)) = minEntry(buf)
          buf.remove(victim)
          buf.update(key, (minC + 1L, minC))
      }
    }
    buf
  }

  override def merge(b1: mutable.HashMap[String, (Long, Long)],
                     b2: mutable.HashMap[String, (Long, Long)])
      : mutable.HashMap[String, (Long, Long)] = {
    val min1 = if (b1.size < capacity) 0L else minEntry(b1)._2._1
    val min2 = if (b2.size < capacity) 0L else minEntry(b2)._2._1
    val merged = mutable.HashMap.empty[String, (Long, Long)]
    for (key <- b1.keySet ++ b2.keySet) {
      val (c1, e1) = b1.getOrElse(key, (min1, min1))
      val (c2, e2) = b2.getOrElse(key, (min2, min2))
      merged.update(key, (c1 + c2, e1 + e2))
    }
    if (merged.size <= capacity) merged
    else {
      val kept = merged.toSeq
        .sortBy { case (v, (c, _)) => (-c, v) }.take(capacity)
      mutable.HashMap(kept: _*)
    }
  }

  override def eval(buf: mutable.HashMap[String, (Long, Long)]): Any = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val top = buf.toSeq.sortBy { case (v, (c, _)) => (-c, v) }.take(k)
    new GenericArrayData(top.map { case (v, (c, e)) =>
      InternalRow(UTF8String.fromString(v), c, e)
    }.toArray[Any])
  }

  override def serialize(buf: mutable.HashMap[String, (Long, Long)]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    for ((key, (c, e)) <- buf) {
      val kb = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length); out.write(kb)
      out.writeLong(c); out.writeLong(e)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, (Long, Long)] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val size = in.readInt()
    val buf = mutable.HashMap.empty[String, (Long, Long)]
    var i = 0
    while (i < size) {
      val kb = new Array[Byte](in.readInt())
      in.readFully(kb)
      val key = new String(kb, java.nio.charset.StandardCharsets.UTF_8)
      buf.update(key, (in.readLong(), in.readLong()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ApproxTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ApproxTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object NativeFunctions {

  def rollingMinHash(c: Column, k: Int = 8): Column =
    ColumnBridge.column(RollingMinHash(ColumnBridge.expression(c), k))

  def modeDet(c: Column): Column =
    ColumnBridge.column(
      ModeDet(ColumnBridge.expression(c)).toAggregateExpression())

  def approxTopK(c: Column, k: Int, capacity: Int): Column =
    ColumnBridge.column(
      ApproxTopK(ColumnBridge.expression(c), k, capacity)
        .toAggregateExpression())

  def topKPairs(ord: Column, value: Column, k: Int): Column =
    ColumnBridge.column(
      TopKRows(ColumnBridge.expression(ord), ColumnBridge.expression(value), k)
        .toAggregateExpression())

  def rollingHashAll(c: Column, k: Int = 8): Column =
    ColumnBridge.column(RollingHashAll(ColumnBridge.expression(c), k))

  def minHashSig(c: Column, k: Int = 5): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(c), k))

  def minMd5Window(c: Column, k: Int = 8): Column =
    ColumnBridge.column(MinMd5Window(ColumnBridge.expression(c), k))

  def charHistStats(c: Column): Column =
    ColumnBridge.column(CharHistStats(ColumnBridge.expression(c)))

  def rollingModCount(c: Column, k: Int = 8, div: Long = 64L): Column =
    ColumnBridge.column(RollingModCount(ColumnBridge.expression(c), k, div))

  def floatVecDot(a: Column, b: Column): Column =
    ColumnBridge.column(FloatVecDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def floatVecDotQ(a: Column, b: Column): Column =
    ColumnBridge.column(FloatVecDotQ(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def floatVecL2Q(a: Column, b: Column): Column =
    ColumnBridge.column(FloatVecL2Q(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def isNumericToken(c: Column): Column =
    ColumnBridge.column(IsNumericToken(ColumnBridge.expression(c)))
  def startsWithName(c: Column): Column =
    ColumnBridge.column(StartsWithName(ColumnBridge.expression(c)))
  def isHeader(c: Column): Column =
    ColumnBridge.column(IsHeader(ColumnBridge.expression(c)))
}

/** Session-extension entry point: wire the engine's native functions,
  * optimizer rules and the record-assembly planner strategy
  * ([[graft.parity.DocFoldStrategy]]) into any SparkSession via
  * `.withExtensions(new GraftExtensions)` or the
  * `spark.sql.extensions=graft.functions.GraftExtensions` conf.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression)
        : Unit =
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    // k and capacity must be literals: they are evaluated when the
    // call is built.
    def int(e: Expression): Int = e.eval().asInstanceOf[Int]
    fn("farm_is_numeric_token_native", classOf[IsNumericToken])(
      e => IsNumericToken(e.head))
    fn("farm_starts_with_name_native", classOf[StartsWithName])(
      e => StartsWithName(e.head))
    fn("mode_det", classOf[ModeDet])(
      e => ModeDet(e.head).toAggregateExpression())
    fn("approx_top_k_ss", classOf[ApproxTopK])(
      e => ApproxTopK(e.head, k = int(e(1)), capacity = int(e(2)))
        .toAggregateExpression())
    fn("top_k_pairs", classOf[TopKRows])(
      e => TopKRows(e(0), e(1), k = int(e(2))).toAggregateExpression())
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinThresholdRule)
    ext.injectOptimizerRule(_ => graft.plans.RangeBinJoinRule)
    ext.injectPlannerStrategy(_ => graft.parity.DocFoldStrategy)
  }
}
