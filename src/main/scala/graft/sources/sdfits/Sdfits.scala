package graft.sources.sdfits

import graft.model.HeaderRecord
import graft.sources.HadoopConf

/** User-facing helpers around the SDFITS connector: the reference's
  * `hdul[0].header` half of the two-part open (the BINTABLE half is
  * `spark.read.format("sdfits")`). Header metadata is per-FILE and tiny, so
  * it is read driver-side — exactly how the reference treats it (a scalar
  * record steering the plan, not data).
  */
object Sdfits {

  /** Read + verify `path`'s primary header into the engine's typed header
    * record (DATE isot, OBSMODE, OBSFREQ/OBSBW MHz, parsed HISTORY cards —
    * ref utils.py:9-56, validate.py:45).
    */
  def readHeader(path: String): HeaderRecord.Header = {
    val (primary, _) = SdfitsFormat.open(
      SdfitsTableProvider.readFully(path, HadoopConf.driver()))
    def need(k: String): String = primary.value(k).getOrElse(
      throw new SdfitsFormat.SdfitsVerificationException(s"primary header missing $k"))
    HeaderRecord.Header(
      date = java.sql.Timestamp.valueOf(java.time.LocalDateTime.parse(need("DATE"))),
      obsmode = need("OBSMODE"),
      obsfreq = need("OBSFREQ").toDouble,
      obsbw = need("OBSBW").toDouble,
      history = HeaderRecord.parseHistory(primary.history))
  }
}
