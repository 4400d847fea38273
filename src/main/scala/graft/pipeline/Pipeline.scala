package graft.pipeline

import org.apache.spark.sql.DataFrame
import graft.model.HeaderRecord
import graft.model.HeaderRecord.Header
import graft.ops.Atmosphere

/** The reference's end-to-end driver (ref main.py:13-64) as one entry
  * point: validate → optional atmosphere correction → continuum + spectrum.
  * The reference materializes a staged file between stages; here the stages
  * fuse into each product's lazy plan (write a [[Staged]] checkpoint only
  * if an audit boundary is wanted). Atmosphere correction is OFF by default,
  * matching the reference driver (main.py:31-32 keeps the stage commented
  * out) — pass `atmosphere = true` for the corrected products.
  *
  * [[run]] reduces its input as one observation and [[runAll]] reduces each
  * file of it; both call the products' one implementation,
  * [[Continuum.runAll]] and [[Spectrum.runAll]].
  */
object Pipeline {

  final case class Result(continuum: DataFrame, spectrum: DataFrame)

  /** Provided Params must agree with the pipeline-level (ifnum, plnum):
    * the atmosphere axis is derived from the pipeline ifnum, so a Params
    * object filtering a DIFFERENT IF would silently apply the wrong band's
    * correction.
    */
  private def resolveParams(ifnum: Int, plnum: Int,
      continuumParams: Continuum.Params,
      spectrumParams: Spectrum.Params): (Continuum.Params, Spectrum.Params) = {
    val cp = Option(continuumParams).getOrElse(Continuum.Params(ifnum, plnum))
    val sp = Option(spectrumParams).getOrElse(Spectrum.Params(ifnum, plnum))
    require(cp.ifnum == ifnum && cp.plnum == plnum,
      s"continuumParams (if=${cp.ifnum}, pl=${cp.plnum}) disagree with pipeline (if=$ifnum, pl=$plnum)")
    require(sp.ifnum == ifnum && sp.plnum == plnum,
      s"spectrumParams (if=${sp.ifnum}, pl=${sp.plnum}) disagree with pipeline (if=$ifnum, pl=$plnum)")
    (cp, sp)
  }

  /** Validate + optional atmosphere stage, shared by [[run]] and [[runAll]]
    * (ref atmosphere_correction.py:59-86): per-row weather → per-channel
    * transmission over the GHz axis → DATA /= transmission. The axis is the
    * header-derived MHz axis / 1000 (ref :68), over the post-crop channel
    * count.
    */
  private def correctedFrame(df: DataFrame, header: Header, ifnum: Int,
      atmosphere: Boolean): DataFrame = {
    val validated = Validate.run(df, header)
    if (!atmosphere) validated
    else {
      val fr = HeaderRecord.frequencyRange(header, ifnum)
      val axisGHz = graft.functions.ArrayOps
        .freqAxis(fr.high, fr.low, fr.channelCount).map(_ / 1000.0)
      Atmosphere.correct(validated, axisGHz)
    }
  }

  /** The reference's driver over ONE observation: every row of `df` is
    * reduced as one file ([[Continuum.run]], [[Spectrum.run]]).
    */
  def run(
      df: DataFrame,
      header: Header,
      ifnum: Int,
      plnum: Int,
      atmosphere: Boolean = false,
      continuumParams: Continuum.Params = null,
      spectrumParams: Spectrum.Params = null): Result = {
    val (cp, sp) = resolveParams(ifnum, plnum, continuumParams, spectrumParams)
    val corrected = correctedFrame(df, header, ifnum, atmosphere)
    Result(
      continuum = Continuum.run(corrected, header, cp),
      spectrum = Spectrum.run(corrected, header, sp))
  }

  /** Multi-file form of [[run]]: validate and (optionally) correct are
    * per-row maps, so they compose unchanged in front of
    * [[Continuum.runAll]] / [[Spectrum.runAll]] — the whole driver for N
    * files in two job chains, no per-file driver orchestration and no
    * caches held.
    * Both products are unordered, as the reference returns each file's
    * arrays and no order across them. Over a stamped SDFITS directory no
    * plan exchanges: 5 + 2 jobs whatever the file count. Order them with
    * `orderBy`, or `sortWithinPartitions` over a stamped directory; an
    * `orderBy` of the stamped spectrum rereads the scan in its sample job.
    */
  def runAll(
      df: DataFrame,
      header: Header,
      ifnum: Int,
      plnum: Int,
      atmosphere: Boolean = false,
      continuumParams: Continuum.Params = null,
      spectrumParams: Spectrum.Params = null): Result = {
    val (cp, sp) = resolveParams(ifnum, plnum, continuumParams, spectrumParams)
    val corrected = correctedFrame(df, header, ifnum, atmosphere)
    Result(
      continuum = Continuum.runAll(corrected, header, cp),
      spectrum = Spectrum.runAll(corrected, header, sp))
  }
}
