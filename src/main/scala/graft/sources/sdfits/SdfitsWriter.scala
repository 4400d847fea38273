package graft.sources.sdfits

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.HeaderRecord
import graft.sources.HadoopConf
import SdfitsFormat.ColSpec

/** Byte-level SDFITS writer — the missing write half of the connector (the
  * reference rebuilds `PrimaryHDU(header) + BinTableHDU(data)` and writes
  * `{base}_{process}{ext}`, ref utils.py:216-237). Encodes a DataFrame as a
  * real two-HDU FITS file via [[SdfitsFormat.write]], so
  * `spark.read.format("sdfits")` round-trips it bit-for-bit (IEEE floats
  * big-endian both ways).
  *
  * Scale shape: a FITS file is a single sequential binary table, so the
  * parallelism unit is the FILE, mirroring the reader's one-partition-per-
  * file model. [[writeObservation]] streams one observation through one
  * executor task (rows never visit the driver; an observation is bounded by
  * construction — same constraint the reader's `readFully` states).
  * [[writeObservations]] is the scale path: one file per key, keys
  * partitioned across the cluster so files encode in parallel. Column specs
  * are derived from the schema plus ONE aggregation job (row count for
  * NAXIS2, max string width, array-width uniformity check).
  */
object SdfitsWriter {

  /** Primary-HDU metadata: numeric cards, string cards, HISTORY lines. */
  final case class Header(
      values: Seq[(String, String)] = Nil,
      stringValues: Seq[(String, String)] = Nil,
      history: Seq[String] = Nil)

  /** Supported frame column types → FITS TFORM codes (the SDFITS subset the
    * reader speaks: scalar D/E/J/K, fixed rA strings, fixed rD/rE vectors).
    * The one type table of both write surfaces (this object and the DSv2
    * `format("sdfits")` writer).
    */
  private[sdfits] def codeOf(dt: DataType): Char = dt match {
    case DoubleType                 => 'D'
    case FloatType                  => 'E'
    case IntegerType                => 'J'
    case LongType                   => 'K'
    case StringType                 => 'A'
    case ArrayType(DoubleType, _)   => 'D'
    case ArrayType(FloatType, _)    => 'E'
    case other =>
      throw new IllegalArgumentException(
        s"sdfits: cannot encode ${other.simpleString} (supported: double, float," +
          " int, long, string, array<double>, array<float>)")
  }

  /** The fixed FITS repeat of a vector column whose rows hold `lo..hi`
    * elements; a ragged column (lo != hi) fails.
    */
  private[sdfits] def fixedRepeat(name: String, lo: Int, hi: Int): Int = {
    require(lo == hi,
      s"sdfits: ragged vector column '$name' ($lo..$hi) — FITS requires a fixed repeat")
    math.max(hi, 1)
  }

  /** One pass over `df`: (column specs with fixed repeats, row count).
    * Strings take the max observed width (min 1); vector columns must be
    * uniform-width — FITS fixes the repeat in the header, so a ragged DATA
    * column fails loudly here rather than writing a corrupt table.
    */
  def colSpecsAndCount(df: DataFrame): (Seq[ColSpec], Long) = {
    val fields = df.schema.fields
    val aggs: Seq[Column] = count(lit(1)) +: fields.toSeq.flatMap { f =>
      f.dataType match {
        case StringType      => Seq(max(length(col(f.name))))
        case _: ArrayType    => Seq(min(size(col(f.name))), max(size(col(f.name))))
        case _               => Nil
      }
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val nRows = row.getLong(0)
    var i = 1
    val cols = fields.toSeq.map { f =>
      val code = codeOf(f.dataType)
      val repeat = f.dataType match {
        case StringType =>
          val w = if (row.isNullAt(i)) 1 else row.getInt(i); i += 1; math.max(w, 1)
        case _: ArrayType =>
          val lo = if (row.isNullAt(i)) 0 else row.getInt(i)
          val hi = if (row.isNullAt(i + 1)) 0 else row.getInt(i + 1)
          i += 2
          fixedRepeat(f.name, lo, hi)
        case _ => 1
      }
      ColSpec(f.name, repeat, code)
    }
    (cols, nRows)
  }

  /** Row → cells in column order, as [[SdfitsFormat.write]] expects. */
  private def cells(r: Row, fields: Array[StructField]): Seq[Any] =
    fields.indices.map { i =>
      fields(i).dataType match {
        case ArrayType(DoubleType, _) => r.getSeq[Double](i).toArray
        case ArrayType(FloatType, _)  => r.getSeq[Float](i).toArray
        case _                        => r.get(i)
      }
    }

  /** Write `df` as ONE SDFITS observation file at `path`, rows ordered by
    * `sortCols` (FITS row order is semantically meaningful, SURVEY §1.1).
    * The encode runs in one executor task — the driver only plans; the
    * session's Hadoop configuration is broadcast to the task for this job
    * ([[HadoopConf.withBroadcast]]) so configured filesystems work (not
    * just local paths).
    */
  def writeObservation(
      df: DataFrame,
      sortCols: Seq[String],
      path: String,
      header: Header): Long = {
    val (cols, nRows) = colSpecsAndCount(df)
    require(nRows <= Int.MaxValue, s"sdfits: $nRows rows exceed one BINTABLE")
    val fields = df.schema.fields
    val (hv, sv, hist) = (header.values, header.stringValues, header.history)
    val n = nRows.toInt
    HadoopConf.withBroadcast(df.sparkSession) { conf =>
      df.repartition(1)
        .sortWithinPartitions(sortCols.map(col): _*)
        .foreachPartition { (it: Iterator[Row]) =>
          val p = new Path(path)
          val fs = p.getFileSystem(conf.value.value)
          writeCommitted(fs, p) { os =>
            SdfitsFormat.write(os, hv, sv, hist, cols, it.map(cells(_, fields)), n)
          }
        }
    }
    nRows
  }

  /** Encode through a dot-prefixed temp file and rename into place, so a
    * task dying mid-encode never leaves a truncated `.fits` visible (the
    * reader's listing skips dot-files, and a failed rename fails the task).
    */
  private def writeCommitted(fs: org.apache.hadoop.fs.FileSystem, dest: Path)(
      body: java.io.OutputStream => Unit): Unit = {
    val temp = new Path(dest.getParent, s".${dest.getName}.inprogress")
    val os = fs.create(temp, true)
    try body(os) finally os.close()
    fs.delete(dest, false) // replace any prior (possibly partial) attempt
    if (!fs.rename(temp, dest))
      throw new java.io.IOException(s"sdfits: commit rename failed for $dest")
  }

  /** Staged write — the reference's output contract: encode `df` next to
    * `basePath` under `{base}_{process}{ext}` naming (C11, ref
    * utils.py:222-224). Returns the staged path.
    */
  def writeStaged(
      df: DataFrame,
      sortCols: Seq[String],
      basePath: String,
      process: String,
      header: Header): String = {
    val out = HeaderRecord.stagedPath(basePath, process)
    writeObservation(df, sortCols, out, header)
    out
  }

  /** Scale path: one SDFITS file per distinct `fileCol` value, written in
    * parallel — rows hash-partition on the key, each task encodes the
    * file(s) whose keys landed on it (consecutive after the within-partition
    * sort). Per-file row counts come from one tiny aggregation (one row per
    * FILE — never ∝ data) broadcast into the write tasks for NAXIS2.
    * Returns `(file key, path, n_rows)` — computed from the same counts, no
    * second scan.
    *
    * Each file's primary header is stamped with what the write guarantees:
    * `KEYCOL = '<fileCol>'`, `KEYVAL = '<this file's key>'` and
    * `SORTCOLS = '<c1>,<c2>,…'`, the sort columns its rows ascend by
    * ([[SdfitsFormat.KeyColumnCard]] and siblings). `SORTCOLS` lists the
    * leading numeric sort columns only: a string or vector column's FITS
    * encoding (ASCII, trailing blanks dropped) need not keep Spark's order,
    * so it ends the list. A key that would not read back unchanged from a
    * card (non-printable or quote characters, leading or trailing blanks,
    * over [[SdfitsFormat.MaxCardString]] characters) leaves its file
    * unstamped. Reading a directory whose files are all stamped, the
    * connector reports one partition key per file and that row order, so
    * per-file operators on it need no shuffle.
    */
  def writeObservations(
      df: DataFrame,
      fileCol: String,
      sortCols: Seq[String],
      outDir: String,
      header: Header): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // The key is rendered twice — catalyst cast-to-string for the counts
    // map, JVM String.valueOf in the write task — which only agree for
    // string/integer keys (a double would format differently and miss the
    // map). Restrict rather than risk a silent mismatch.
    df.schema(fileCol).dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"sdfits: fileCol '$fileCol' must be string/int/long, got ${other.simpleString}")
    }
    val (cols, _) = colSpecsAndCount(df)
    val fields = df.schema.fields
    val keyIdx = df.schema.fieldIndex(fileCol)
    val counts: Map[String, Long] = df.groupBy(col(fileCol).cast("string"))
      .count().as[(String, Long)].collect().toMap
    require(!counts.contains(null),
      s"sdfits: fileCol '$fileCol' contains null values — every row needs a file key")
    counts.keys.foreach { k =>
      require(counts(k) <= Int.MaxValue, s"sdfits: file '$k' exceeds one BINTABLE")
    }
    // Sanitization can collide ("a b" and "a_b" both → obs_a_b): distinct
    // raw keys that share a sanitized name get a raw-key hash suffix, so
    // two tasks never race on one destination path.
    val sanitized: Map[String, String] =
      counts.keys.map(k => k -> s"obs_${k.replaceAll("[^A-Za-z0-9._-]+", "_")}").toMap
    val byName = sanitized.groupBy(_._2)
    val pathOf: Map[String, String] = sanitized.map { case (k, base) =>
      val name =
        if (byName(base).size == 1) s"$base.fits"
        else {
          val digest = java.security.MessageDigest.getInstance("SHA-256")
            .digest(k.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
          s"${base}_$digest.fits"
        }
      k -> s"$outDir/$name"
    }
    require(pathOf.values.toSet.size == pathOf.size,
      "sdfits: unresolvable file-name collision among fileCol keys")
    val (hv, sv, hist) = (header.values, header.stringValues, header.history)
    val stampKeys = Set(SdfitsFormat.KeyColumnCard, SdfitsFormat.KeyValueCard,
      SdfitsFormat.SortColumnsCard)
    require((hv ++ sv).forall(c => !stampKeys(c._1)),
      s"sdfits: writeObservations writes the ${stampKeys.mkString("/")} cards itself")
    val sortCards = sortCols
      .takeWhile(c => Seq(IntegerType, LongType, FloatType, DoubleType).contains(df.schema(c).dataType))
      .inits.map(_.mkString(",")).find(_.length <= SdfitsFormat.MaxCardString).get
    def stamp(key: String): Seq[(String, String)] =
      if (key.length <= SdfitsFormat.MaxCardString && key == key.trim &&
          key.forall(ch => ch >= ' ' && ch <= '~' && ch != '\''))
        Seq(SdfitsFormat.KeyColumnCard -> fileCol, SdfitsFormat.KeyValueCard -> key,
          SdfitsFormat.SortColumnsCard -> sortCards)
      else Nil
    HadoopConf.withBroadcast(spark) { conf =>
      df.repartition(col(fileCol))
        .sortWithinPartitions((col(fileCol) +: sortCols.map(col)): _*)
        .foreachPartition { (it: Iterator[Row]) =>
          val fsConf = conf.value.value
          // keys are consecutive after the sort: cut a new file on key change
          val rows = it.buffered
          while (rows.hasNext) {
            val key = String.valueOf(rows.head.get(keyIdx))
            val p = new Path(pathOf(key))
            val fs = p.getFileSystem(fsConf)
            val fileRows = new Iterator[Row] {
              def hasNext: Boolean =
                rows.hasNext && String.valueOf(rows.head.get(keyIdx)) == key
              def next(): Row = rows.next()
            }
            writeCommitted(fs, p) { os =>
              SdfitsFormat.write(os, hv, sv ++ stamp(key), hist, cols,
                fileRows.map(cells(_, fields)), counts(key).toInt)
            }
          }
        }
    }
    counts.toSeq.sortBy(_._1)
      .map { case (k, n) => (k, pathOf(k), n) }
      .toDF(fileCol, "path", "n_rows")
  }
}
