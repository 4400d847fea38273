package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Array-column kernels for the time×channel data cube (SURVEY.md §1.1).
  *
  * The reference stores one integration sample per row with a fixed-length
  * float vector `DATA` (per-channel intensities); these helpers re-express its
  * whole-column numpy kernels as Catalyst higher-order functions — no UDF or
  * serialization boundary, though HOF lambdas themselves evaluate interpreted
  * (`CodegenFallback`). Kernels hot enough for that to matter have native
  * codegen'd forms in [[VectorKernels]].
  *
  * All functions are pure `Column -> Column`; element order carries channel
  * identity (channel 0 = highest frequency, ref utils.py:282).
  */
object ArrayOps {

  /** A1 — frequency-axis integration: per-row sum over the channel vector
    * (ref utils.py:110-118, `np.sum(axis=1)`). NULL elements (masked NaNs,
    * see [[maskNaN]]) are skipped, matching numpy masked-array sums.
    */
  def arraySum(data: Column): Column =
    aggregate(data, lit(0.0), (acc, x) => acc + coalesce(x.cast("double"), lit(0.0)))

  /** Mean over non-null elements of the array (numpy masked mean analog).
    * Inputs are NULL-masked (see [[maskNaN]]) — NaN never reaches this point,
    * so the count only needs a null check; the sum coalesces NULL→0 while the
    * count skips NULLs, which together give the masked mean.
    */
  def arrayMean(data: Column): Column = {
    val n = aggregate(data, lit(0L), (acc, x) => acc + when(x.isNotNull, 1L).otherwise(0L))
    arraySum(data) / when(n > 0, n.cast("double"))
  }

  /** F5 — NaN masking: NaN elements become SQL NULL inside the array
    * (ref validate.py:25-37). Masked, not removed — array length (= channel
    * identity) is preserved.
    */
  def maskNaN(data: Column): Column =
    transform(data, x =>
      when(x.isNull || isnan(x), lit(null).cast("double")).otherwise(x.cast("double")))

  /** Replace NULL elements by 0.0 (numpy `filled(0)`); used before the
    * vector-sum aggregate whose input encoder requires non-null elements.
    */
  def fillNulls(data: Column, v: Double = 0.0): Column =
    transform(data, x => coalesce(x.cast("double"), lit(v)))

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

  /** F7 application — project the kept channels out of each row's vector.
    * The index list is a per-file scalar (header-derived), so it travels as a
    * literal array: constant-folded, no shuffle, no UDF.
    */
  def pickChannels(data: Column, idx: Array[Int]): Column = {
    val idxCol = array(idx.map(i => lit(i)).toSeq: _*)
    transform(idxCol, i => element_at(data, i + 1))
  }

  /** A10 — element-wise vector difference (ref spectrum.py:63-67 ON−OFF). */
  def vecDiff(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => x - y)

  /** C8 — inverse-transmission application: per-channel division
    * (ref atmosphere_correction.py:83-84, `DATA *= 1/transmission`).
    */
  def vecDivide(a: Column, divisor: Column): Column =
    zip_with(a, divisor, (x, d) => x / d)

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
