package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{ArrayOps, VectorSum}

/** A1/A2/A3/A10 — the two integrations of the data cube and their helpers
  * (ref utils.py:105-124, continuum.py:24-28, spectrum.py:63-67).
  */
object Integration {

  /** A1 — frequency-axis integration ("continuum", ref utils.py:110-118):
    * per-row `sum(DATA)` paired with relative time. Narrow map-side work —
    * no shuffle; the native [[graft.functions.ArrayOps.arraySum]] loop runs
    * inside whole-stage codegen.
    */
  def continuum(df: DataFrame, t0: Column, tsCol: String = "DATE_OBS", dataCol: String = "DATA"): DataFrame =
    df.select(
      RangeFilters.relSeconds(col(tsCol), t0).as("t"),
      ArrayOps.arraySum(col(dataCol)).as("intensity"))

  /** A2 — time-axis integration ("spectrum", ref utils.py:120-124):
    * element-wise vector sum across rows via [[graft.functions.VectorSum]]
    * over `fillNulls(DATA)` (masked channels count 0, as numpy's masked
    * sums) — map-side partial aggregation of whole arrays, so the shuffle
    * carries one array per (group × partition), not n_rows × n_channels
    * exploded rows.
    */
  def spectrum(df: DataFrame, dataCol: String = "DATA"): DataFrame =
    df.agg(VectorSum.vecSum(ArrayOps.fillNulls(col(dataCol))).as("spectrum"))

  /** A2 grouped form: one spectrum per group key. */
  def spectrumBy(df: DataFrame, key: Column, dataCol: String = "DATA"): DataFrame =
    df.groupBy(key).agg(VectorSum.vecSum(ArrayOps.fillNulls(col(dataCol))).as("spectrum"))

  /** A3 — sweep-interleave factor `|distinct IFNUM| × |distinct PLNUM|`
    * (ref continuum.py:24-28; the reference's misnamed `channel_count` used by
    * the ST1 threshold). Exact distinct here — the domain is tiny (feeds ×
    * pols ≤ 4); `approx_count_distinct` is the 100 TB substitute if ever
    * applied to an unbounded column.
    */
  def sweepInterleaveDF(df: DataFrame, ifCol: String = "IFNUM", plCol: String = "PLNUM"): DataFrame =
    df.agg((countDistinct(col(ifCol)) * countDistinct(col(plCol))).as("k"))

  /** A10 — ON−OFF element-wise difference of two spectra (ref spectrum.py:63-67). */
  def onOffDiff(on: Column, off: Column): Column = ArrayOps.vecDiff(on, off)
}
