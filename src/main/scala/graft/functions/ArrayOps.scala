package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions._

/** Array-column kernels for the time×channel data cube (SURVEY.md §1.1).
  *
  * The reference stores one integration sample per row with a fixed-length
  * float vector `DATA` (per-channel intensities) and reduces it with
  * vectorised numpy calls. Each of those calls is one native Catalyst
  * expression here: a primitive `double` loop over the input array
  * ([[ArrayKernelsImpl]]) that writes an `UnsafeArrayData`, called from the
  * surrounding whole-stage code. No higher-order function (`transform`,
  * `aggregate`, `zip_with`) is left: those evaluate one interpreted lambda
  * and one boxed element per channel. Their forms, which fixed the
  * semantics, live on only as references in `ArrayKernelsSpec`, which pins
  * every kernel to them bit for bit (nulls, NaN, ±Inf, −0.0, ANSI errors).
  *
  * Numeric inputs are cast to `array<double>` first, as in [[VectorKernels]]
  * (a no-op on `DATA`); [[pickChannels]] keeps its input's element type.
  * All functions are pure `Column -> Column`; element order carries channel
  * identity (channel 0 = highest frequency, ref utils.py:282).
  */
object ArrayOps {

  import VectorKernels.{binary, unary}

  /** A1 — frequency-axis integration: per-row sum over the channel vector
    * (ref utils.py:110-118, `np.sum(axis=1)`). NULL elements (masked NaNs,
    * see [[maskNaN]]) are skipped, matching numpy masked-array sums.
    */
  def arraySum(data: Column): Column = unary(ArraySum)(data)

  /** Mean over non-null elements of the array (numpy masked mean analog);
    * null when no element is non-null.
    */
  def arrayMean(data: Column): Column = unary(ArrayMean)(data)

  /** F5 — NaN masking: NaN elements become SQL NULL inside the array
    * (ref validate.py:25-37). Masked, not removed — array length (= channel
    * identity) is preserved.
    */
  def maskNaN(data: Column): Column = unary(MaskNaN)(data)

  /** Replace NULL elements by `v` (numpy `filled(v)`); used before the
    * vector-sum aggregate (see [[VectorSum]]).
    */
  def fillNulls(data: Column, v: Double = 0.0): Column = unary(FillNulls(_, v))(data)

  /** F8 — channel crop: keep channels `[start, stop]` inclusive, 0-based
    * (ref validate.py:72-102 slices `row[start:stop+1]`). Spark `slice` is
    * 1-based.
    */
  def cropChannels(data: Column, start: Int, stop: Int): Column =
    slice(data, start + 1, stop - start + 1)

  /** C3 — synthesized descending frequency axis: `linspace(high, low, n)`
    * (ref utils.py:282; continuum.py:153). Channel 0 = highest frequency.
    */
  def freqAxis(high: Double, low: Double, n: Int): Array[Double] =
    Array.tabulate(n)(i => if (n == 1) high else high - i * (high - low) / (n - 1))

  /** F7 — kept channel indices (0-based) under include/exclude frequency
    * ranges. Bounds are exclusive and unordered pairs are normalized with
    * `sorted((fmin,fmax))` (ref utils.py:273-309). Include masks OR together;
    * exclude masks AND-NOT together; both may apply.
    */
  def keepIndices(
      freqs: Array[Double],
      include: Seq[(Double, Double)],
      exclude: Seq[(Double, Double)]): Array[Int] = {
    def in(f: Double, r: (Double, Double)): Boolean = {
      val lo = math.min(r._1, r._2); val hi = math.max(r._1, r._2)
      f > lo && f < hi
    }
    val mask = Array.tabulate(freqs.length) { i =>
      val inc = include.isEmpty || include.exists(r => in(freqs(i), r))
      val exc = exclude.nonEmpty && exclude.exists(r => in(freqs(i), r))
      inc && !exc
    }
    mask.zipWithIndex.collect { case (true, i) => i }
  }

  /** F7 application — project the kept channels (0-based) out of each
    * row's vector. The index list is a per-file scalar (header-derived), so
    * it rides the expression: no shuffle, no UDF. An index past a row's end
    * fails under ANSI, as `element_at` does.
    */
  def pickChannels(data: Column, idx: Array[Int]): Column = {
    require(idx.forall(_ >= 0), s"pickChannels: negative channel index in ${idx.mkString(",")}")
    GraftColumnBridge.column(PickChannels(GraftColumnBridge.expression(data), idx.toSeq))
  }

  /** A10 — element-wise vector difference (ref spectrum.py:63-67 ON−OFF).
    * As long as the longer input; a missing or null element gives null.
    */
  def vecDiff(a: Column, b: Column): Column = binary(VecDiff(_, _))(a, b)

  /** C8 — inverse-transmission application: per-channel division
    * (ref atmosphere_correction.py:83-84, `DATA *= 1/transmission`), with
    * `Divide`'s ANSI behaviour on a zero divisor.
    */
  def vecDivide(a: Column, divisor: Column): Column = binary(VecDivide(_, _))(a, divisor)

  /** Dot product of two numeric arrays, accumulated in double. Delegates to
    * the native codegen'd kernel ([[graft.functions.DotProduct]]); its
    * semantics are a `zip_with`/`aggregate` fold, pinned by
    * `VectorKernelsSpec`.
    */
  def dot(a: Column, b: Column): Column = VectorKernels.dot(a, b)

  /** Euclidean norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, accumulated in double (similarity-search kernel). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))
}
