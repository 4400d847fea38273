package graft.sources.sdfits

import java.io.OutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** Minimal SDFITS codec: a FITS file as the reference opens it everywhere —
  * primary header (`hdul[0].header`) + one BINTABLE extension
  * (`hdul[1].data`), ref validate.py:18-23, file_merge.py:22-26. Layout per
  * the public FITS 4.0 standard: 2880-byte blocks of 80-char ASCII cards
  * terminated by an END card; table data row-major big-endian, padded to
  * the block size. Covers the subset SDFITS uses (SURVEY §1.2-1.3): scalar
  * `D`/`E`/`J`/`K` columns, fixed-length `rA` strings, fixed-length
  * `rD`/`rE` vector columns (the DATA cube axis).
  *
  * Structural verification is part of `open` — the analog of the
  * reference's `hdul.verify('exception')` (validate.py:20): a missing
  * SIMPLE/END card, a non-BINTABLE first extension, a TFORM/NAXIS1
  * disagreement or a truncated table all raise
  * [[SdfitsVerificationException]] (S2/S4 semantics; the corruption tool
  * deletes the END card, file_corruption.py:15-34).
  */
object SdfitsFormat {

  final class SdfitsVerificationException(msg: String) extends RuntimeException(msg)

  val BLOCK = 2880
  val CARD = 80

  final case class Card(key: String, value: Option[String], history: Boolean = false)

  final case class ColSpec(name: String, repeat: Int, code: Char) {
    def bytes: Int = repeat * (code match {
      case 'D' | 'K' => 8
      case 'E' | 'J' => 4
      case 'A'       => 1
      case c => throw new SdfitsVerificationException(s"unsupported TFORM code '$c'")
    })
    def form: String = s"$repeat$code"
  }

  final case class HeaderSpec(cards: Seq[Card]) {
    def value(key: String): Option[String] =
      cards.find(c => c.key == key && !c.history).flatMap(_.value)
    def history: Seq[String] = cards.filter(_.history).flatMap(_.value)
  }

  final case class TableSpec(cols: Seq[ColSpec], nRows: Int, rowBytes: Int, dataOffset: Long)

  /** Primary-header cards that [[SdfitsWriter.writeObservations]] stamps on
    * each file: the key column's name, this file's key, and the
    * comma-separated columns its rows are sorted by. A directory whose files
    * all carry them reads as key-grouped and sorted (see
    * [[SdfitsTableProvider]]).
    */
  val KeyColumnCard = "KEYCOL"
  val KeyValueCard = "KEYVAL"
  val SortColumnsCard = "SORTCOLS"

  /** The longest string value a card holds: 80 columns less the key, the
    * `= ` and the two quotes.
    */
  val MaxCardString = CARD - 12

  // --- read ---------------------------------------------------------------

  /** Parse one header unit starting at `off`: cards until END, consuming
    * whole blocks. Non-printable bytes inside the card stream mean the END
    * card was lost and the parser ran into binary data — the corruption
    * signature, rejected with a verification error.
    */
  def parseHeader(bytes: Array[Byte], off: Long): (HeaderSpec, Long) = {
    var pos = off
    val cards = Seq.newBuilder[Card]
    var ended = false
    while (!ended) {
      if (pos + BLOCK > bytes.length)
        throw new SdfitsVerificationException(
          s"header truncated or END card missing (at byte $pos of ${bytes.length})")
      var i = 0
      while (i < BLOCK && !ended) {
        val raw = new String(bytes, (pos + i).toInt, CARD, StandardCharsets.US_ASCII)
        if (raw.exists(ch => ch < 0x20 || ch > 0x7e))
          throw new SdfitsVerificationException(
            "malformed header card (non-ASCII bytes) — corrupt or END-stripped file")
        val key = raw.substring(0, 8).trim
        if (key == "END") ended = true
        else if (key == "HISTORY" || key == "COMMENT")
          cards += Card(key, Some(raw.substring(8).trim), history = key == "HISTORY")
        else if (raw.length >= 10 && raw.substring(8, 10) == "= ")
          cards += Card(key, Some(parseValue(raw.substring(10))))
        else if (key.nonEmpty) cards += Card(key, None)
        i += CARD
      }
      pos += BLOCK
    }
    (HeaderSpec(cards.result()), pos)
  }

  private def parseValue(s: String): String = {
    val t = s.trim
    if (t.startsWith("'")) {
      val e = t.indexOf('\'', 1)
      if (e < 0) t.substring(1).trim else t.substring(1, e).trim
    } else {
      val slash = t.indexOf('/')
      (if (slash >= 0) t.substring(0, slash) else t).trim
    }
  }

  private def splitForm(form: String): (Int, Char) = {
    val digits = form.takeWhile(_.isDigit)
    val rest = form.drop(digits.length)
    if (rest.isEmpty)
      throw new SdfitsVerificationException(s"bad TFORM '$form'")
    (if (digits.isEmpty) 1 else digits.toInt, rest.head)
  }

  def parseBinTable(h: HeaderSpec, dataOffset: Long): TableSpec = {
    if (!h.value("XTENSION").contains("BINTABLE"))
      throw new SdfitsVerificationException(
        s"first extension is not a BINTABLE (XTENSION=${h.value("XTENSION")})")
    def intOf(k: String) = h.value(k).map(_.toInt).getOrElse(
      throw new SdfitsVerificationException(s"BINTABLE header missing $k"))
    val n1 = intOf("NAXIS1"); val n2 = intOf("NAXIS2"); val tfields = intOf("TFIELDS")
    val cols = (1 to tfields).map { i =>
      val name = h.value(s"TTYPE$i").getOrElse(s"col$i")
      val (rep, code) = splitForm(h.value(s"TFORM$i").getOrElse(
        throw new SdfitsVerificationException(s"BINTABLE header missing TFORM$i")))
      ColSpec(name, rep, code)
    }
    val rowBytes = cols.map(_.bytes).sum
    if (rowBytes != n1)
      throw new SdfitsVerificationException(
        s"NAXIS1=$n1 disagrees with TFORM total $rowBytes")
    TableSpec(cols, n2, rowBytes, dataOffset)
  }

  /** Open + structurally verify: primary header then the BINTABLE HDU. */
  def open(bytes: Array[Byte]): (HeaderSpec, TableSpec) = {
    val (primary, off1) = parseHeader(bytes, 0L)
    if (!primary.cards.headOption.exists(c => c.key == "SIMPLE" && c.value.contains("T")))
      throw new SdfitsVerificationException("not a FITS file: leading SIMPLE = T card missing")
    if (!primary.value("NAXIS").forall(_.trim == "0"))
      throw new SdfitsVerificationException("primary HDU with data is not SDFITS-shaped")
    val (bh, off2) = parseHeader(bytes, off1)
    val t = parseBinTable(bh, off2)
    if (off2 + t.rowBytes.toLong * t.nRows > bytes.length)
      throw new SdfitsVerificationException("binary table truncated")
    (primary, t)
  }

  /** Decode one cell. `colOff` is the column's byte offset within a row. */
  def decodeCell(bytes: Array[Byte], t: TableSpec, row: Int, c: ColSpec, colOff: Int): Any = {
    val base = (t.dataOffset + row.toLong * t.rowBytes + colOff).toInt
    val bb = ByteBuffer.wrap(bytes) // big-endian by default
    c.code match {
      case 'D' if c.repeat == 1 => bb.getDouble(base)
      case 'E' if c.repeat == 1 => bb.getFloat(base)
      case 'J' => bb.getInt(base)
      case 'K' => bb.getLong(base)
      case 'D' => Array.tabulate(c.repeat)(j => bb.getDouble(base + 8 * j))
      case 'E' => Array.tabulate(c.repeat)(j => bb.getFloat(base + 4 * j))
      case 'A' =>
        // trailing blanks are insignificant per the FITS standard
        new String(bytes, base, c.repeat, StandardCharsets.US_ASCII)
          .replaceAll("\\s+$", "")
      case other => throw new SdfitsVerificationException(s"unsupported TFORM code '$other'")
    }
  }

  /** Decode a contiguous channel slice of a VECTOR cell: elements
    * `[start, min(start+count, repeat))`, 0-based, touching only the
    * sliced bytes — the crop pushdown (ref validate.py:102, the F7/F8
    * channel crop) that makes a `slice($"DATA", a, n)` scan decode n
    * cells instead of the full vector. Clamp (not refuse) past-the-end
    * ranges: the optimizer rewrite from Spark's `slice` must preserve its
    * semantics exactly, and `slice(x, start, n)` clamps.
    */
  def decodeCellSlice(bytes: Array[Byte], t: TableSpec, row: Int, c: ColSpec,
      colOff: Int, start: Int, count: Int): Any = {
    val n = math.max(0, math.min(count.toLong, c.repeat.toLong - start).toInt)
    val base = (t.dataOffset + row.toLong * t.rowBytes + colOff).toInt
    val bb = ByteBuffer.wrap(bytes) // big-endian by default
    c.code match {
      case 'D' => Array.tabulate(n)(j => bb.getDouble(base + 8 * (start + j)))
      case 'E' => Array.tabulate(n)(j => bb.getFloat(base + 4 * (start + j)))
      case other => throw new SdfitsVerificationException(
        s"channel slice on non-vector TFORM code '$other'")
    }
  }

  // --- write (fixture/staging side) ---------------------------------------

  private def padCard(s: String): Array[Byte] =
    s.take(CARD).padTo(CARD, ' ').getBytes(StandardCharsets.US_ASCII)

  private def card(key: String, value: String): Array[Byte] =
    padCard(key.padTo(8, ' ') + "= " + value)

  private def cardStr(key: String, value: String): Array[Byte] =
    card(key, "'" + value + "'")

  private def historyCard(text: String): Array[Byte] = padCard("HISTORY " + text)

  private def blockPad(out: OutputStream, written: Long, fill: Byte): Long = {
    val rem = (BLOCK - (written % BLOCK)) % BLOCK
    var i = 0L
    while (i < rem) { out.write(fill); i += 1 }
    written + rem
  }

  /** Write a two-HDU SDFITS file: primary header (scalar cards + HISTORY
    * lines) and a BINTABLE with the given columns. `rows` supplies cells in
    * column order; Double/Float/Int/Long/String/Array[Double]/Array[Float]
    * per the column's TFORM.
    */
  def write(
      out: OutputStream,
      headerValues: Seq[(String, String)],
      stringHeaderValues: Seq[(String, String)],
      history: Seq[String],
      cols: Seq[ColSpec],
      rows: Iterator[Seq[Any]],
      nRows: Int): Unit = {
    var w = 0L
    def emit(b: Array[Byte]): Unit = { out.write(b); w += b.length }
    // primary HDU
    emit(card("SIMPLE", "T"))
    emit(card("BITPIX", "8"))
    emit(card("NAXIS", "0"))
    emit(card("EXTEND", "T"))
    headerValues.foreach { case (k, v) => emit(card(k, v)) }
    stringHeaderValues.foreach { case (k, v) => emit(cardStr(k, v)) }
    history.foreach(h => emit(historyCard(h)))
    emit(padCard("END"))
    w = blockPad(out, w, ' '.toByte)
    // bintable HDU
    val rowBytes = cols.map(_.bytes).sum
    emit(cardStr("XTENSION", "BINTABLE"))
    emit(card("BITPIX", "8"))
    emit(card("NAXIS", "2"))
    emit(card("NAXIS1", rowBytes.toString))
    emit(card("NAXIS2", nRows.toString))
    emit(card("PCOUNT", "0"))
    emit(card("GCOUNT", "1"))
    emit(card("TFIELDS", cols.length.toString))
    cols.zipWithIndex.foreach { case (c, i) =>
      emit(cardStr(s"TTYPE${i + 1}", c.name))
      emit(cardStr(s"TFORM${i + 1}", c.form))
    }
    emit(padCard("END"))
    w = blockPad(out, w, ' '.toByte)
    // data
    val rowBuf = ByteBuffer.allocate(rowBytes) // big-endian
    var n = 0
    rows.foreach { cells =>
      rowBuf.clear()
      cols.zip(cells).foreach { case (c, v) =>
        (c.code, v) match {
          case ('D', d: Double) => rowBuf.putDouble(d)
          case ('E', f: Float)  => rowBuf.putFloat(f)
          case ('J', i: Int)    => rowBuf.putInt(i)
          case ('K', l: Long)   => rowBuf.putLong(l)
          case ('A', s: String) =>
            val b = s.padTo(c.repeat, ' ').take(c.repeat).getBytes(StandardCharsets.US_ASCII)
            rowBuf.put(b)
          case ('D', a: Array[Double]) =>
            require(a.length == c.repeat, s"${c.name}: ${a.length} != ${c.repeat}")
            a.foreach(rowBuf.putDouble)
          case ('E', a: Array[Float]) =>
            require(a.length == c.repeat, s"${c.name}: ${a.length} != ${c.repeat}")
            a.foreach(rowBuf.putFloat)
          case (code, other) =>
            throw new IllegalArgumentException(
              s"${c.name}: cannot encode ${other.getClass.getSimpleName} as TFORM '$code'")
        }
      }
      out.write(rowBuf.array(), 0, rowBytes)
      w += rowBytes
      n += 1
    }
    require(n == nRows, s"row iterator produced $n rows, header promised $nRows")
    blockPad(out, w, 0.toByte): Unit
  }

  /** The reference's corruption analog (file_corruption.py:15-18 deletes the
    * FITS END card): blank out the primary header's END card in place.
    * `open` on the result must throw [[SdfitsVerificationException]].
    */
  def corruptStripEnd(bytes: Array[Byte]): Array[Byte] = {
    val out = bytes.clone()
    var pos = 0
    while (pos + CARD <= out.length) {
      val key = new String(out, pos, 8, StandardCharsets.US_ASCII).trim
      if (key == "END") {
        java.util.Arrays.fill(out, pos, pos + CARD, ' '.toByte)
        return out
      }
      pos += CARD
    }
    out
  }
}
