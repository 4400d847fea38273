package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** One-pass per-row signature kernels for the dedup/text surface.
  *
  * The round-3/4 formulation computed MinHash/SimHash signatures by exploding
  * shingles/tokens to rows and aggregating 64 salted hash columns — correct
  * and map-side-partial, but the 64-column hash aggregate generates a huge
  * codegen class (slow to JIT; 5-8x slower on a cold JVM) and shuffles one
  * row per doc per partition. These kernels compute the ENTIRE signature in
  * one tight loop per row — no explode, no aggregation, no shuffle at all:
  * at 100 TB the signature job becomes a pure map over the corpus, embarrassingly
  * parallel, with the same output values bit-for-bit (pinned by DedupSpec /
  * SigKernelsSpec against the exploded forms and the HOF forms).
  *
  * Hash parity:
  *  - [[MinHashMurmurSig]] slot i = min over shingles of Spark
  *    `hash(shingle, i)` = murmur3(int i, seed = murmur3(bytes, 42)).
  *  - [[SimHashXxSig]] votes with Spark `xxhash64(token)` (seed 42).
  *  - The Poly variants use the [[PolyFingerprint]] rolling hash and the
  *    `((2i+1)·fp + 31i+7) mod 1e9+7` family — plain modular arithmetic the
  *    DuckDB oracle reproduces exactly (same values as the round-4 exploded
  *    poly aggregations).
  *
  * Tokenization matches `split(trim(text), "\\s+")` exactly: trim strips
  * ASCII spaces only (Spark StringTrim semantics — NOT Java String.trim,
  * which also strips tabs/newlines), and the regex split keeps a leading
  * empty token when the text starts with non-space whitespace.
  */
object SigImpl {
  private val P = 1000000007L

  /** Spark StringTrim semantics: strip ' ' (0x20) only. */
  def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  private def toks(t: UTF8String): Array[String] =
    trimSpaces(t.toString).split("\\s+", -1)

  /** All word n-grams in order, duplicates kept (min/vote folds are
    * duplicate-insensitive where it matters; [[wordNgramsDistinct]] dedups).
    */
  private def grams(w: Array[String], n: Int): Array[String] = {
    if (w.length < n) return Array.empty[String]
    val out = new Array[String](w.length - n + 1)
    var i = 0
    while (i <= w.length - n) {
      val sb = new java.lang.StringBuilder(w(i))
      var j = 1
      while (j < n) { sb.append(' ').append(w(i + j)); j += 1 }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  /** `(h·131 + codePoint) mod 1e9+7` — the [[PolyFingerprint]] fold. */
  def polyFp(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 131L + cp) % P
      i += Character.charCount(cp)
    }
    h
  }

  /** MinHash signature, Spark-murmur3 family: slot i = min over shingles of
    * `hash(shingle, lit(i))`. Null when the doc has no shingles (fewer than
    * `shingle` tokens) — such docs cannot be near-duplicates and drop out,
    * matching the exploded form's groupBy absence.
    */
  def minhashMurmur(t: UTF8String, shingle: Int, k: Int): ArrayData = {
    val g = grams(toks(t), shingle)
    if (g.isEmpty) return null
    val mins = new Array[Int](k)
    java.util.Arrays.fill(mins, Int.MaxValue)
    var i = 0
    while (i < g.length) {
      val u = UTF8String.fromString(g(i))
      // hash(gram, i) folds children left-to-right from seed 42:
      // murmur3_bytes(gram, 42) then murmur3_int(i, that).
      val base = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42)
      var s = 0
      while (s < k) {
        val h = Murmur3_x86_32.hashInt(s, base)
        if (h < mins(s)) mins(s) = h
        s += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** MinHash signature, oracle-reproducible poly family:
    * slot i = min over shingles of `((2i+1)·fp(g) + 31i+7) mod 1e9+7`.
    */
  def minhashPoly(t: UTF8String, shingle: Int, k: Int): ArrayData = {
    val g = grams(toks(t), shingle)
    if (g.isEmpty) return null
    val fps = new Array[Long](g.length)
    var i = 0
    while (i < g.length) { fps(i) = polyFp(g(i)); i += 1 }
    val mins = new Array[Long](k)
    var s = 0
    while (s < k) {
      var m = Long.MaxValue
      var j = 0
      while (j < fps.length) {
        val h = ((2L * s + 1) * fps(j) + (31L * s + 7)) % P
        if (h < m) m = h
        j += 1
      }
      mins(s) = m
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  private def packVotes(votes: Array[Int]): Long = {
    var sim = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sim |= (1L << b); b += 1 }
    sim
  }

  /** Adds a flush window's bit-sliced counts into `ones`: bit k of the
    * count for bit b is bit b of `s<k>`. A method with the slices as
    * arguments, not a closure over [[simhashXx]]'s locals, so they stay
    * primitive locals there instead of boxed `LongRef`s.
    */
  private def addSlices(ones: Array[Int],
      s0: Long, s1: Long, s2: Long, s3: Long, s4: Long, s5: Long): Unit = {
    var b = 0
    while (b < 64) {
      ones(b) += (((s0 >>> b) & 1L) + (((s1 >>> b) & 1L) << 1) +
        (((s2 >>> b) & 1L) << 2) + (((s3 >>> b) & 1L) << 3) +
        (((s4 >>> b) & 1L) << 4) + (((s5 >>> b) & 1L) << 5)).toInt
      b += 1
    }
  }

  /** SimHash-64, Spark-xxhash64 token hash (seed 42), occurrence-weighted
    * votes — same values as the exploded vote aggregation.
    *
    * Vote accumulation is BIT-SLICED (vertical counters): instead of 64
    * shift/test/add iterations per token, each token's hash word ripple-
    * carry-adds into six 64-lane 1-bit slices (`s0..s5` — slice i holds
    * bit i of every lane's running ones-count), flushed into the per-bit
    * totals every 63 tokens before a lane could overflow. Integer-exact:
    * ones(b) is counted exactly, and the old `votes(b) > 0` test is
    * equivalent to `2·ones(b) > n` (votes = ones − (n − ones)); ties
    * (votes == 0) leave the bit clear in both forms. Pinned against the
    * reference per-bit loop by SigKernelsSpec.
    */
  def simhashXx(t: UTF8String): Long = {
    val w = toks(t)
    val n = w.length
    val ones = new Array[Int](64)
    var s0 = 0L; var s1 = 0L; var s2 = 0L; var s3 = 0L; var s4 = 0L; var s5 = 0L
    var inBlock = 0
    var i = 0
    while (i < n) {
      var carry = XxHash64Function.hash(UTF8String.fromString(w(i)), StringType, 42L)
      var t0 = s0 & carry; s0 ^= carry; carry = t0
      t0 = s1 & carry; s1 ^= carry; carry = t0
      t0 = s2 & carry; s2 ^= carry; carry = t0
      t0 = s3 & carry; s3 ^= carry; carry = t0
      t0 = s4 & carry; s4 ^= carry; carry = t0
      s5 ^= carry // counts reach at most 63 per flush window — no carry out
      inBlock += 1
      if (inBlock == 63) {
        addSlices(ones, s0, s1, s2, s3, s4, s5)
        s0 = 0L; s1 = 0L; s2 = 0L; s3 = 0L; s4 = 0L; s5 = 0L
        inBlock = 0
      }
      i += 1
    }
    if (inBlock > 0) addSlices(ones, s0, s1, s2, s3, s4, s5)
    var sim = 0L
    var b = 0
    while (b < 64) { if (2 * ones(b) > n) sim |= (1L << b); b += 1 }
    sim
  }

  /** SimHash-64, oracle-reproducible poly bit family:
    * bit b of token t votes +1 iff `((2b+1)·fp(t) + 31b+7) mod 1e9+7` is odd.
    */
  def simhashPoly(t: UTF8String): Long = {
    val w = toks(t)
    val fps = new Array[Long](w.length)
    var i = 0
    while (i < w.length) { fps(i) = polyFp(w(i)); i += 1 }
    val votes = new Array[Int](64)
    var b = 0
    while (b < 64) {
      var v = 0
      var j = 0
      while (j < fps.length) {
        if (((2L * b + 1) * fps(j) + (31L * b + 7)) % P % 2L == 1L) v += 1 else v -= 1
        j += 1
      }
      votes(b) = v
      b += 1
    }
    packVotes(votes)
  }

  /** Polynomial fingerprints of ALL word n-grams, in token order — slot i is
    * fp of the gram starting at token i, so a posexplode of this array IS
    * the (position, fingerprint) stream substring-level dedup shuffles:
    * 8 bytes per gram, no gram text materialized, no window. Empty array
    * when the doc has fewer than n tokens.
    */
  def wordNgramFps(t: UTF8String, n: Int): ArrayData = {
    val g = grams(toks(t), n)
    val out = new Array[Long](g.length)
    var i = 0
    while (i < g.length) { out(i) = polyFp(g(i)); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Distinct word n-grams, first-occurrence order (array_distinct
    * semantics). Empty array when the doc has fewer than n tokens.
    */
  def wordNgramsDistinct(t: UTF8String, n: Int): ArrayData = {
    val g = grams(toks(t), n)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < g.length) { seen.add(g(i)); i += 1 }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** Distinct word n-gram count (0 when fewer than n tokens). */
  def wordNgramCount(t: UTF8String, n: Int): Int = {
    val g = grams(toks(t), n)
    if (g.isEmpty) return 0
    val seen = new java.util.HashSet[String]()
    var i = 0
    while (i < g.length) { seen.add(g(i)); i += 1 }
    seen.size
  }

  /** Count of positions where two signature arrays hold equal NON-NULL
    * values — exactly `size(filter(zip_with(a, b, _ === _), identity))`:
    * zip_with pads the longer tail with nulls, and any null operand makes
    * the equality null, which the filter drops — so only positions < both
    * lengths with two non-null equal values count.
    */
  def eqSlots(a: ArrayData, b: ArrayData, isLong: Boolean): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    if (isLong) {
      while (i < n) {
        if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
        i += 1
      }
    } else {
      while (i < n) {
        if (!a.isNullAt(i) && !b.isNullAt(i) && a.getInt(i) == b.getInt(i)) c += 1
        i += 1
      }
    }
    c
  }

  /** Distinct character (code-point) n-gram count (0 when shorter than n). */
  def charNgramCount(t: UTF8String, n: Int): Int = {
    val cps = t.toString.codePoints().toArray
    if (cps.length < n) return 0
    val seen = new java.util.HashSet[String]()
    var i = 0
    while (i + n <= cps.length) {
      seen.add(new String(cps, i, n))
      i += 1
    }
    seen.size
  }
}

/** Unary kernel expression: interpreted eval and codegen both dispatch to the
  * same [[SigImpl]] static (one virtual call per ROW — the loop body is
  * compiled Scala, so there is no per-element interpreted lambda tax, and the
  * expression participates in whole-stage codegen without a fallback barrier).
  */
abstract class SigKernelExpression extends UnaryExpression {
  /** Java call expression over the child UTF8String variable. */
  protected def javaCall(c: String): String

  /** True when the IMPL can return null for a NON-null input (the codegen
    * then re-checks the result — only legal for reference-typed results).
    * Primitive-returning kernels must keep this false: the old guard keyed
    * on `nullable` (true whenever the CHILD column was nullable, e.g. any
    * parquet text), emitting `long == null` — which Janino rejects, and
    * Spark's fallback silently dropped every stage containing the kernel
    * out of whole-stage codegen. `nullSafeCodeGen` already handles the
    * child-null case without this check.
    */
  protected def implNullable: Boolean = false

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val call = javaCall(c)
      if (implNullable)
        s"""
           |${ev.value} = $call;
           |${ev.isNull} = (${ev.value} == null);
         """.stripMargin
      else s"${ev.value} = $call;"
    })
}

case class MinHashMurmurSig(child: Expression, shingleSize: Int, numHashes: Int)
    extends SigKernelExpression {
  require(shingleSize >= 1, s"shingleSize must be >= 1, got $shingleSize")
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override protected def implNullable: Boolean = true // null for < shingleSize tokens
  override def prettyName: String = "minhash_murmur_sig"
  override def nullSafeEval(input: Any): Any =
    SigImpl.minhashMurmur(input.asInstanceOf[UTF8String], shingleSize, numHashes)
  override protected def javaCall(c: String): String =
    s"graft.functions.SigImpl.minhashMurmur($c, $shingleSize, $numHashes)"
  override protected def withNewChildInternal(newChild: Expression): MinHashMurmurSig =
    copy(child = newChild)
}

case class MinHashPolySig(child: Expression, shingleSize: Int, numHashes: Int)
    extends SigKernelExpression {
  require(shingleSize >= 1, s"shingleSize must be >= 1, got $shingleSize")
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override protected def implNullable: Boolean = true // null for < shingleSize tokens
  override def prettyName: String = "minhash_poly_sig"
  override def nullSafeEval(input: Any): Any =
    SigImpl.minhashPoly(input.asInstanceOf[UTF8String], shingleSize, numHashes)
  override protected def javaCall(c: String): String =
    s"graft.functions.SigImpl.minhashPoly($c, $shingleSize, $numHashes)"
  override protected def withNewChildInternal(newChild: Expression): MinHashPolySig =
    copy(child = newChild)
}

case class SimHashXxSig(child: Expression) extends SigKernelExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_xx"
  override def nullSafeEval(input: Any): Any =
    SigImpl.simhashXx(input.asInstanceOf[UTF8String])
  override protected def javaCall(c: String): String =
    s"graft.functions.SigImpl.simhashXx($c)"
  override protected def withNewChildInternal(newChild: Expression): SimHashXxSig =
    copy(child = newChild)
}

case class SimHashPolySig(child: Expression) extends SigKernelExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_poly"
  override def nullSafeEval(input: Any): Any =
    SigImpl.simhashPoly(input.asInstanceOf[UTF8String])
  override protected def javaCall(c: String): String =
    s"graft.functions.SigImpl.simhashPoly($c)"
  override protected def withNewChildInternal(newChild: Expression): SimHashPolySig =
    copy(child = newChild)
}

case class WordNgramsDistinct(child: Expression, n: Int) extends SigKernelExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams_distinct"
  override def nullSafeEval(input: Any): Any =
    SigImpl.wordNgramsDistinct(input.asInstanceOf[UTF8String], n)
  override protected def javaCall(c: String): String =
    s"graft.functions.SigImpl.wordNgramsDistinct($c, $n)"
  override protected def withNewChildInternal(newChild: Expression): WordNgramsDistinct =
    copy(child = newChild)
}

case class WordNgramFps(child: Expression, n: Int) extends SigKernelExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_ngram_fps"
  override def nullSafeEval(input: Any): Any =
    SigImpl.wordNgramFps(input.asInstanceOf[UTF8String], n)
  override protected def javaCall(c: String): String =
    s"graft.functions.SigImpl.wordNgramFps($c, $n)"
  override protected def withNewChildInternal(newChild: Expression): WordNgramFps =
    copy(child = newChild)
}

case class WordNgramCount(child: Expression, n: Int) extends SigKernelExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "word_ngram_count"
  override def nullSafeEval(input: Any): Any =
    SigImpl.wordNgramCount(input.asInstanceOf[UTF8String], n)
  override protected def javaCall(c: String): String =
    s"graft.functions.SigImpl.wordNgramCount($c, $n)"
  override protected def withNewChildInternal(newChild: Expression): WordNgramCount =
    copy(child = newChild)
}

/** Codegen'd count of equal slots between two signature arrays of the
  * same integral element type — the MinHash agreement estimator's inner
  * fold. Replaces `size(filter(zip_with(a, b, _ === _), identity))`,
  * whose HOFs are CodegenFallback and dropped the whole candidate-scoring
  * stage out of whole-stage codegen. Integer-exact, with the HOF's exact
  * null semantics (a null slot's equality is null and does not count).
  */
case class EqSlotCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private def elem(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(et, _) if et == LongType || et == IntegerType => Some(et)
    case _ => None
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (elem(left), elem(right)) match {
      case (Some(l), Some(r)) if l == r =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "eq_slot_count needs two array<long|int> columns with the same " +
            s"element type, got ${left.dataType} / ${right.dataType}")
    }
  private lazy val isLong: Boolean = elem(left).contains(LongType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "eq_slot_count"
  override def nullSafeEval(l: Any, r: Any): Any =
    SigImpl.eqSlots(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], isLong)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.SigImpl.eqSlots($l, $r, $isLong);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EqSlotCount =
    copy(left = newLeft, right = newRight)
}

case class CharNgramCount(child: Expression, n: Int) extends SigKernelExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "char_ngram_count"
  override def nullSafeEval(input: Any): Any =
    SigImpl.charNgramCount(input.asInstanceOf[UTF8String], n)
  override protected def javaCall(c: String): String =
    s"graft.functions.SigImpl.charNgramCount($c, $n)"
  override protected def withNewChildInternal(newChild: Expression): CharNgramCount =
    copy(child = newChild)
}

object SigKernels {
  private def unary(f: Expression => Expression)(text: Column): Column =
    GraftColumnBridge.column(f(GraftColumnBridge.expression(text.cast("string"))))

  def minhashMurmur(text: Column, shingleSize: Int = 3, numHashes: Int = 64): Column =
    unary(MinHashMurmurSig(_, shingleSize, numHashes))(text)

  def minhashPoly(text: Column, shingleSize: Int = 3, numHashes: Int = 64): Column =
    unary(MinHashPolySig(_, shingleSize, numHashes))(text)

  def simhashXx(text: Column): Column = unary(SimHashXxSig.apply)(text)

  def simhashPoly(text: Column): Column = unary(SimHashPolySig.apply)(text)

  def wordNgramsDistinct(text: Column, n: Int): Column =
    unary(WordNgramsDistinct(_, n))(text)

  def wordNgramFps(text: Column, n: Int): Column =
    unary(WordNgramFps(_, n))(text)

  def wordNgramCount(text: Column, n: Int): Column =
    unary(WordNgramCount(_, n))(text)

  def charNgramCount(text: Column, n: Int): Column =
    unary(CharNgramCount(_, n))(text)

  /** Equal-slot count of two null-free integral signature arrays. */
  def eqSlotCount(a: Column, b: Column): Column =
    GraftColumnBridge.column(EqSlotCount(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
