package graft.sources.sdfits

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.HadoopConf

import SdfitsFormat._

/** Read-only DataSource V2 over the reference's two-part SDFITS file model
  * (S1 as the reference actually does it — `fits.open` → header + BINTABLE,
  * validate.py:18-23): `spark.read.format("sdfits").load(path)` where
  * `path` is one file or a directory of `*.fits`.
  *
  * Scale shape: one [[InputPartition]] per FILE — an SDFITS observation is a
  * single sequential time series (row order is load-bearing, SURVEY §1.1),
  * so a file is the natural parallelism unit, exactly like the engine's
  * per-file `mapGroups` operators. Column pruning is pushed into the reader
  * ([[SupportsPushDownRequiredColumns]]): unprojected columns are never
  * decoded (the wide DATA vector skipped for flag-only scans). Scalar
  * predicates push too ([[SupportsPushDownFilters]]) — evaluated on the raw
  * fixed-width row bytes before any projection decode — and global
  * COUNT/MIN/MAX/SUM collapse to one partial row per file
  * ([[SupportsPushDownAggregates]]; an unfiltered count reads only the
  * header's NAXIS2). Every file is structurally verified on open (S2) and
  * checked against the inferred schema (U1 strict-merge semantics: a
  * drifting file fails loudly rather than silently nulling).
  *
  * Key-grouped, sorted reads: when every file of the directory carries the
  * `KEYCOL`, `KEYVAL` and `SORTCOLS` primary-header cards that
  * [[SdfitsWriter.writeObservations]] stamps, and all name the same key
  * column, a row scan that keeps that column reports
  *  - a `KeyGroupedPartitioning` on it ([[SupportsReportPartitioning]]),
  *    with each file's `KEYVAL` as its partition's key ([[HasPartitionKey]]);
  *  - the order (key, sort columns…) ascending ([[SupportsReportOrdering]]),
  *    up to the first sort column the scan does not keep (the sort columns
  *    when every file names the same ones, none otherwise).
  * So grouping or sorting by the key, or a per-key operator sorted by the
  * sort columns, plans no shuffle and no sort over the scan. Spark merges
  * files that share a key into one partition and then drops the ordering.
  * Planning reads only the primary headers, and stops at the first file
  * without the cards. The reader checks every row it returns: a key cell
  * that differs from its file's `KEYVAL`, or a sort column that decreases,
  * fails the read with [[SdfitsVerificationException]]. The scan reports
  * nothing when any file lacks the cards or the key column is pruned, and
  * for pushed-down aggregates. A pushed aggregate that groups by the key of
  * a directory whose files carry distinct keys is complete instead
  * ([[SupportsPushDownAggregates.supportCompletePushDown]]): each file's
  * partial rows are final, their key cells are checked the same way, and
  * Spark plans no merge and no shuffle.
  */
class SdfitsTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "sdfits"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = HadoopConf.driver()
    // A missing or fileless path is legal for the WRITE side (the table
    // schema then comes from the query via ACCEPT_ANY_SCHEMA); READS of
    // either still fail in planInputPartitions ("no input files").
    val files =
      try SdfitsTableProvider.listFiles(SdfitsTableProvider.pathOf(options), conf)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    if (files.isEmpty) return new StructType()
    val bytes = SdfitsTableProvider.readFully(files.head, conf)
    val (_, table) = SdfitsFormat.open(bytes)
    SdfitsTableProvider.toStructType(table.cols)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SdfitsTable(schema,
      SdfitsTableProvider.pathOf(new CaseInsensitiveStringMap(properties)))
}

object SdfitsTableProvider {

  private[sdfits] def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("sdfits: 'path' option is required"))

  /** The input files at `path` with their lengths in bytes: a directory's
    * files, sorted, without dot- and underscore-prefixed names, or `path`
    * itself when it is a file.
    */
  private[sdfits] def listSized(path: String, conf: Configuration): Seq[(String, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isDirectory)
      fs.listStatus(p).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
          !s.getPath.getName.startsWith("_"))
        .map(s => (s.getPath.toString, s.getLen)).sortBy(_._1)
    else Seq((p.toString, st.getLen))
  }

  private[sdfits] def listFiles(path: String, conf: Configuration): Seq[String] =
    listSized(path, conf).map(_._1)

  /** The primary header alone: reads 2880-byte blocks up to the one
    * holding the END card, never the table.
    */
  private[sdfits] def readPrimaryHeader(path: String, conf: Configuration): HeaderSpec = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val block = new Array[Byte](BLOCK)
      var ended = false
      while (!ended) {
        in.readFully(block)
        out.write(block)
        ended = (0 until BLOCK by CARD).exists(i =>
          new String(block, i, 8, java.nio.charset.StandardCharsets.US_ASCII).trim == "END")
      }
      SdfitsFormat.parseHeader(out.toByteArray, 0L)._1
    } finally in.close()
  }

  /** What a stamped directory lets a row scan report: the key column, each
    * file's key (as the column's Scala value) and the sort columns the scan
    * keeps.
    */
  private[sdfits] final case class Stamp(keyCol: String, keys: Seq[Any], sortCols: Seq[String])

  /** The [[Stamp]] of `files` for a scan whose output is `output`, or None
    * when any file lacks the cards or cannot be read, when the files name
    * different key columns, or when the key column is not a kept string,
    * int or long column. Only numeric sort columns are reported, and only
    * while the scan keeps them.
    */
  private[sdfits] def stampOf(files: Seq[String], output: StructType,
      conf: Configuration): Option[Stamp] = {
    def cards(f: String): Option[(String, String, String)] =
      try {
        val h = readPrimaryHeader(f, conf)
        for (c <- h.value(KeyColumnCard); k <- h.value(KeyValueCard))
          yield (c, k, h.value(SortColumnsCard).getOrElse(""))
      } catch { case _: java.io.IOException | _: SdfitsVerificationException => None }
    val first = files.headOption.flatMap(cards)
    val keyType = first.flatMap(c => output.find(_.name == c._1)).map(_.dataType)
    val parse: Option[String => Any] = keyType.collect {
      case StringType  => (k: String) => k
      case IntegerType => (k: String) => k.toInt
      case LongType    => (k: String) => k.toLong
    }
    parse.flatMap { parseKey =>
      val (keyCol, _, sort) = first.get
      val all = files.iterator.map(f => cards(f).filter(_._1 == keyCol))
        .takeWhile(_.isDefined).map(_.get).toSeq
      val keys =
        try Some(all.map(c => parseKey(c._2)))
        catch { case _: NumberFormatException => None }
      keys.filter(_ => all.length == files.length).map { ks =>
        val numeric = Set[DataType](IntegerType, LongType, FloatType, DoubleType)
        val sortCols =
          if (all.exists(_._3 != sort) || sort.isEmpty) Nil
          else sort.split(",").toSeq.takeWhile(c => output.find(_.name == c).exists(f => numeric(f.dataType)))
        Stamp(keyCol, ks, sortCols)
      }
    }
  }

  private[sdfits] def readFully(path: String, conf: Configuration): Array[Byte] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    require(len <= Int.MaxValue, s"sdfits: $path larger than 2 GiB")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  /** Parse the `channels` read option `"<start>:<count>"` (0-based start,
    * count ≥ 0): the channel-range projection pushdown. Every VECTOR
    * column in the scan decodes only elements
    * `[start, min(start+count, repeat))` — Spark `slice` clamp semantics,
    * which is what lets [[graft.plans.SdfitsSliceRule]] rewrite a
    * `slice($"DATA", a, n)` projection into this option without changing
    * results. Scalar columns, filters, and aggregate pushdown are
    * unaffected.
    */
  private[sdfits] def channelRange(options: CaseInsensitiveStringMap): Option[(Int, Int)] =
    Option(options.get("channels")).map { s =>
      val re = "^([0-9]+):([0-9]+)$".r
      s match {
        // toIntOption: a digit string past Int.MaxValue must refuse with
        // THIS message, not a bare NumberFormatException with no mention
        // of the option (same refuse-loudly-with-context convention as
        // the malformed branch).
        case re(a, n) if a.toIntOption.isDefined && n.toIntOption.isDefined =>
          (a.toInt, n.toInt)
        case _ => throw new IllegalArgumentException(
          s"sdfits: channels option must be '<start0>:<count>' with " +
            s"non-negative 32-bit integers, got '$s'")
      }
    }

  private[sdfits] def toStructType(cols: Seq[ColSpec]): StructType =
    StructType(cols.map { c =>
      val dt = c.code match {
        case 'D' if c.repeat == 1 => DoubleType
        case 'E' if c.repeat == 1 => FloatType
        case 'J' => IntegerType
        case 'K' => LongType
        case 'A' => StringType
        case 'D' => ArrayType(DoubleType, containsNull = false)
        case 'E' => ArrayType(FloatType, containsNull = false)
        case other =>
          throw new SdfitsVerificationException(s"unsupported TFORM code '$other'")
      }
      StructField(c.name, dt, nullable = false)
    })
}

// private[graft], not [sdfits]: graft.plans.SdfitsSliceRule type-matches
// this class to recognize a rewritable relation.
private[graft] class SdfitsTable(schema: StructType, path: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"sdfits:$path"
  override def schema(): StructType = schema
  // ACCEPT_ANY_SCHEMA: on a fresh (empty) write path the table has no
  // schema to validate against — the write schema is the query's.
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SdfitsScanBuilder(schema, path,
      SdfitsTableProvider.channelRange(options))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new SdfitsWriteBuilder(info, path)
}

/** The pushdown surface, shared by builder and readers.
  *
  * Filters: comparisons/`IN` on SCALAR columns are evaluated on the raw
  * row bytes BEFORE any projected column is decoded — an SDFITS row is
  * fixed-width binary, so a rejected row costs one cell decode instead of
  * a full-row materialization (the wide DATA vector dominates). NaN
  * ordering matches Spark's (NaN sorts above every double — exactly
  * `java.lang.Double.compare`), and a floating NaN LITERAL is refused
  * (Spark's `=` can't produce it from SQL; equality-on-NaN semantics
  * differ by context, so it must not be claimed as handled).
  *
  * Aggregates: COUNT(*)/COUNT(col)/MIN/MAX/SUM — globally or grouped on
  * scalar columns — emit partial rows per file (one per group). Ungrouped,
  * unfiltered counts come straight from the header's NAXIS2 — no cell is
  * ever decoded — and every SDFITS column is non-nullable, so
  * COUNT(col) = COUNT(*). MIN/MAX/SUM decode only their own column;
  * grouped aggregates decode key + aggregated columns only, and ship
  * per-file GROUP partials instead of raw rows into the shuffle. SUM is
  * the engine's own dominant SDFITS access pattern (the A1/A2
  * integrations reduce to sums), so it matters most: partials accumulate
  * in the FINAL sum type (long for integral columns — overflow throws
  * via addExact, implementing the ANSI `sum` contract this engine runs
  * under everywhere (spark.sql.ansi.enabled defaults true on Spark 4);
  * a non-ANSI session would wrap where the pushed partial throws, which
  * is the one knob this connector does not mirror — throwing on a
  * corrupt-scale sum is the safer divergence; double for float/double),
  * and Spark's planner
  * merges them with a final SUM exactly like any partial aggregate. At a
  * million-file observatory archive this is the difference between a
  * catalog query and a full decode of the archive.
  */
private[sdfits] object SdfitsPushdown {
  sealed trait Agg
  case object RowCount extends Agg
  final case class MinCol(name: String) extends Agg
  final case class MaxCol(name: String) extends Agg
  final case class SumCol(name: String) extends Agg

  private def scalarField(full: StructType, name: String): Option[StructField] =
    full.fields.find(_.name == name).filterNot(_.dataType.isInstanceOf[ArrayType])

  private def nameOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
      case _ => None
    }

  private def isNaN(v: Any): Boolean = v match {
    case d: Double => d.isNaN
    case f: Float  => f.isNaN
    case _         => false
  }

  private def typeCompatible(full: StructType, attr: String, v: Any): Boolean =
    scalarField(full, attr).exists { f =>
      !isNaN(v) && ((f.dataType, v) match {
        case (StringType, _: String)                          => true
        case (IntegerType | LongType, _: Int | _: Long)       => true
        case (FloatType | DoubleType, _: Number)              => true
        case _                                                => false
      })
    }

  def supported(full: StructType, f: Filter): Boolean = f match {
    case EqualTo(a, v)            => typeCompatible(full, a, v)
    case GreaterThan(a, v)        => typeCompatible(full, a, v)
    case GreaterThanOrEqual(a, v) => typeCompatible(full, a, v)
    case LessThan(a, v)           => typeCompatible(full, a, v)
    case LessThanOrEqual(a, v)    => typeCompatible(full, a, v)
    case In(a, vs) => vs.nonEmpty && vs.forall(typeCompatible(full, a, _))
    // every SDFITS column is non-nullable by construction
    case IsNotNull(a)             => full.fieldNames.contains(a)
    case _                        => false
  }

  def toAgg(full: StructType, f: AggregateFunc): Option[Agg] = f match {
    case _: CountStar => Some(RowCount)
    case c: Count if !c.isDistinct =>
      // non-nullable columns: COUNT(col) == COUNT(*)
      nameOf(c.column).filter(n => full.fieldNames.contains(n)).map(_ => RowCount)
    case m: Min =>
      nameOf(m.column).flatMap(scalarField(full, _)).map(f => MinCol(f.name))
    case m: Max =>
      nameOf(m.column).flatMap(scalarField(full, _)).map(f => MaxCol(f.name))
    case s: Sum if !s.isDistinct =>
      // Integral sums push only under ANSI semantics (ADVICE r16): the
      // pushed partial accumulates via Math.addExact (throws on overflow,
      // the ANSI contract — the default on Spark 4), but a non-ANSI
      // session's unpushed sum would WRAP, so pushing there would change
      // observable results on a corrupt-scale sum. Double sums are
      // IEEE-identical either way and always push.
      nameOf(s.column).flatMap(scalarField(full, _))
        .filterNot(_.dataType == StringType)
        .filter(f => f.dataType == FloatType || f.dataType == DoubleType ||
          org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
        .map(f => SumCol(f.name))
    case _ => None
  }

  /** The FINAL sum type for a summed column — what Spark's planner expects
    * the partial column to carry (integral → LongType, float/double →
    * DoubleType; catalyst `Sum` widens the same way).
    */
  def sumType(full: StructType, name: String): DataType =
    full(full.fieldIndex(name)).dataType match {
      case IntegerType | LongType => LongType
      case _                      => DoubleType
    }

  /** Grouping columns pushable with the aggregate: single-name scalar
    * fields only (an expression grouping falls back to the unpushed plan).
    */
  def groupCols(full: StructType,
      exprs: Array[org.apache.spark.sql.connector.expressions.Expression]): Option[Seq[String]] = {
    val names = exprs.toSeq.map(nameOf)
    if (names.forall(_.exists(n => scalarField(full, n).isDefined)))
      Some(names.map(_.get))
    else None
  }

  def aggSchema(full: StructType, groupBy: Seq[String], aggs: Seq[Agg]): StructType =
    StructType(groupBy.map(n =>
      StructField(n, full(full.fieldIndex(n)).dataType, nullable = false)) ++
      aggs.zipWithIndex.map {
        case (RowCount, i)    => StructField(s"count_$i", LongType, nullable = false)
        case (MinCol(n), i)   =>
          StructField(s"min_${n}_$i", full(full.fieldIndex(n)).dataType, nullable = true)
        case (MaxCol(n), i)   =>
          StructField(s"max_${n}_$i", full(full.fieldIndex(n)).dataType, nullable = true)
        case (SumCol(n), i)   =>
          StructField(s"sum_${n}_$i", sumType(full, n), nullable = true)
      })

  /** Spark's total order on the scalar cell types (NaN above all doubles,
    * exactly the j.l.{Double,Float}.compare contract).
    */
  def cmp(cell: Any, lit: Any): Int = (cell, lit) match {
    // UTF8String, not String.compareTo: Spark orders strings by UTF-8
    // BYTES (code-point order); Java compares UTF-16 code units, which
    // inverts U+E000..U+FFFF against supplementary characters (ADVICE
    // r15). FITS headers are ASCII in practice, but a pushed predicate
    // must match Spark's own filter semantics on ANY input.
    case (a: String, b: String) =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    case (a: Int, b: Int)       => java.lang.Integer.compare(a, b)
    case (a: Int, b: Long)      => java.lang.Long.compare(a.toLong, b)
    case (a: Long, b: Int)      => java.lang.Long.compare(a, b.toLong)
    case (a: Long, b: Long)     => java.lang.Long.compare(a, b)
    case (a: Float, b: Number)  => java.lang.Float.compare(a, b.floatValue())
    case (a: Double, b: Number) => java.lang.Double.compare(a, b.doubleValue())
    case other =>
      throw new IllegalStateException(s"sdfits pushdown: uncomparable $other")
  }

  def passes(cell: Any, f: Filter): Boolean = f match {
    case EqualTo(_, v)            => cmp(cell, v) == 0
    case GreaterThan(_, v)        => cmp(cell, v) > 0
    case GreaterThanOrEqual(_, v) => cmp(cell, v) >= 0
    case LessThan(_, v)           => cmp(cell, v) < 0
    case LessThanOrEqual(_, v)    => cmp(cell, v) <= 0
    case In(_, vs)                => vs.exists(v => cmp(cell, v) == 0)
    case IsNotNull(_)             => true
    case other =>
      throw new IllegalStateException(s"sdfits pushdown: unplanned filter $other")
  }

  def attrOf(f: Filter): String = f match {
    case EqualTo(a, _) => a
    case GreaterThan(a, _) => a
    case GreaterThanOrEqual(a, _) => a
    case LessThan(a, _) => a
    case LessThanOrEqual(a, _) => a
    case In(a, _) => a
    case IsNotNull(a) => a
    case other =>
      throw new IllegalStateException(s"sdfits pushdown: unplanned filter $other")
  }
}

private[sdfits] class SdfitsScanBuilder(full: StructType, path: String,
    channels: Option[(Int, Int)])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var aggs: Seq[SdfitsPushdown.Agg] = Nil
  private var groupBy: Seq[String] = Nil
  private var pushedAggregation: Option[Aggregation] = None
  // Listed and read (primary headers only) when an aggregate asks whether
  // it can be pushed completely; the scan then reuses this listing.
  private lazy val listing: (Seq[(String, Long)], Option[SdfitsTableProvider.Stamp]) = {
    val conf = HadoopConf.driver()
    val files =
      try SdfitsTableProvider.listSized(path, conf)
      catch { case _: java.io.FileNotFoundException => Nil }
    (files, if (files.isEmpty) None else SdfitsTableProvider.stampOf(files.map(_._1), full, conf))
  }
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(SdfitsPushdown.supported(full, _))
    pushed = sup
    unsup
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val groups = SdfitsPushdown.groupCols(full, aggregation.groupByExpressions)
    if (groups.isEmpty) return false
    val specs = aggregation.aggregateExpressions.map(SdfitsPushdown.toAgg(full, _))
    if (specs.isEmpty || specs.exists(_.isEmpty)) return false
    aggs = specs.flatten.toSeq
    groupBy = groups.get
    pushedAggregation = Some(aggregation)
    true
  }
  /** Complete when the aggregate groups by the stamped key and no two files
    * share a key: each group's rows then sit in one file, whose partial row
    * is the group's final row, and Spark plans no merge (and no shuffle).
    */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    SdfitsPushdown.groupCols(full, aggregation.groupByExpressions).exists { groups =>
      listing._2.exists(s => groups.contains(s.keyCol) && s.keys.distinct.length == s.keys.length)
    } && aggregation.aggregateExpressions.forall(SdfitsPushdown.toAgg(full, _).isDefined)
  override def build(): Scan = {
    val out =
      if (aggs.nonEmpty) SdfitsPushdown.aggSchema(full, groupBy, aggs)
      else required
    val complete = pushedAggregation.filter(supportCompletePushDown)
      .map(_ => (listing._1, listing._2.get))
    new SdfitsScan(full, out, path, pushed, groupBy, aggs, channels, complete)
  }
}

/** One file; `key` is its `KEYVAL` when the scan reports a key-grouped
  * partitioning (Spark reads [[partitionKey]] only then).
  */
private[sdfits] case class SdfitsInputPartition(file: String, key: Option[Any])
    extends HasPartitionKey {
  override def partitionKey(): InternalRow = key.map {
    case k: String => InternalRow(UTF8String.fromString(k))
    case k         => InternalRow(k)
  }.orNull
}

/** `complete`: the builder's listing and stamp when a pushed aggregate is
  * complete (see [[SdfitsScanBuilder.supportCompletePushDown]]).
  */
private[sdfits] class SdfitsScan(full: StructType, output: StructType,
    path: String, filters: Array[Filter], groupBy: Seq[String],
    aggs: Seq[SdfitsPushdown.Agg], channels: Option[(Int, Int)],
    complete: Option[(Seq[(String, Long)], SdfitsTableProvider.Stamp)])
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsReportOrdering {
  // Listing and header reads on the driver.
  private val conf = HadoopConf.driver()
  // The readers' configuration: the same session settings the planner
  // listed files with, broadcast once when Spark first asks for a reader
  // factory, so AQE re-planning this scan reuses it.
  private lazy val taskConf = HadoopConf.broadcast()
  // One listing and one header pass per scan: the reported partitioning,
  // the size estimate and the planned partitions describe the same files.
  private lazy val listed =
    complete.map(_._1).getOrElse(SdfitsTableProvider.listSized(path, conf))
  private lazy val files = listed.map(_._1)
  // A complete aggregate's stamp only drives its reader's key check: Spark
  // maps a reported partitioning onto the table's attributes, which a
  // pushed aggregate's output does not carry, so it reports nothing.
  private lazy val stamp: Option[SdfitsTableProvider.Stamp] =
    if (aggs.nonEmpty) complete.map(_._2)
    else if (files.isEmpty) None
    else SdfitsTableProvider.stampOf(files, output, conf)
  override def outputPartitioning(): Partitioning = stamp match {
    case Some(s) if aggs.isEmpty => new KeyGroupedPartitioning(
      Array(Expressions.identity(s.keyCol)), files.length)
    case _ => new UnknownPartitioning(0)
  }
  override def outputOrdering(): Array[SortOrder] =
    stamp.filter(_ => aggs.isEmpty).toSeq.flatMap(s => s.keyCol +: s.sortCols)
      .map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
  override def readSchema(): StructType = output
  override def toBatch: Batch = this
  override def description(): String = {
    val fs = if (filters.isEmpty) "" else filters.mkString(", PushedFilters: [", ", ", "]")
    val as = if (aggs.isEmpty) "" else aggs.mkString(", PushedAggregates: [", ", ", "]")
    val gs = if (groupBy.isEmpty) "" else groupBy.mkString(", PushedGroupBy: [", ", ", "]")
    val cs = channels.map { case (a, n) => s", PushedChannelRange: [$a:$n]" }.getOrElse("")
    s"sdfits:$path$fs$as$gs$cs"
  }
  /** Planner statistics from the scan's own listing (no header reads):
    * raw byte size feeds the broadcast-threshold decision for joins
    * against small observations.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    override val sizeInBytes: java.util.OptionalLong =
      try java.util.OptionalLong.of(listed.map(_._2).sum)
      catch { case _: java.io.IOException => java.util.OptionalLong.empty() }
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }
  override def planInputPartitions(): Array[InputPartition] = {
    // An existing-but-fileless directory must fail on READ like a missing
    // one — a zero-column empty frame would silently hide a bad path.
    if (files.isEmpty)
      throw new java.io.FileNotFoundException(s"sdfits: no input files at $path")
    files.zipWithIndex.map { case (f, i) =>
      SdfitsInputPartition(f, stamp.map(_.keys(i)))
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new SdfitsReaderFactory(full, output, filters, groupBy, aggs, channels,
      stamp.map(s => (s.keyCol, s.sortCols)), taskConf)
}

private[sdfits] class SdfitsReaderFactory(
    full: StructType, output: StructType, filters: Array[Filter],
    groupBy: Seq[String], aggs: Seq[SdfitsPushdown.Agg],
    channels: Option[(Int, Int)], reported: Option[(String, Seq[String])],
    val conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SdfitsInputPartition]
    if (aggs.nonEmpty)
      new SdfitsAggReader(p.file, full, filters, groupBy, aggs,
        for ((keyCol, _) <- reported; key <- p.key) yield (keyCol, key), conf.value.value)
    else {
      val check = for ((keyCol, sortCols) <- reported; key <- p.key)
        yield new StampCheck(p.file, output, keyCol, key, sortCols)
      new SdfitsPartitionReader(p.file, full, output, filters, channels, check, conf.value.value)
    }
  }
}

/** The per-row check behind a stamped scan's report: the key cell equals
  * the file's `KEYVAL`, and the sort columns never decrease (Spark's order:
  * -0.0 equals 0.0, NaN above every number). Runs on the decoded cells of
  * every row the reader returns.
  */
private[sdfits] final class StampCheck(file: String, output: StructType,
    keyCol: String, key: Any, sortCols: Seq[String]) {
  private val keyAt = output.fieldIndex(keyCol)
  private val sortAt = sortCols.map(output.fieldIndex).toArray
  private val prev = new Array[Any](sortAt.length)
  private var row = 0L

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Int, y: Int)       => java.lang.Integer.compare(x, y)
    case (x: Long, y: Long)     => java.lang.Long.compare(x, y)
    case (x: Float, y: Float)   => SQLOrderingUtil.compareFloats(x, y)
    case (x: Double, y: Double) => SQLOrderingUtil.compareDoubles(x, y)
    case other => throw new IllegalStateException(s"sdfits: unordered sort cells $other")
  }

  def apply(cells: Array[Any]): Unit = {
    if (cells(keyAt) != key)
      throw new SdfitsVerificationException(
        s"$file: $keyCol '${cells(keyAt)}' at returned row $row differs from its " +
          s"${SdfitsFormat.KeyValueCard} card '$key'")
    var i = 0
    var tied = row > 0
    while (tied && i < sortAt.length) {
      val c = cmp(cells(sortAt(i)), prev(i))
      if (c < 0)
        throw new SdfitsVerificationException(
          s"$file: ${sortCols(i)} ${cells(sortAt(i))} at returned row $row follows " +
            s"${prev(i)}, but the ${SdfitsFormat.SortColumnsCard} card says " +
            s"'${sortCols.mkString(",")}' ascend")
      tied = c == 0
      i += 1
    }
    i = 0
    while (i < sortAt.length) { prev(i) = cells(sortAt(i)); i += 1 }
    row += 1
  }
}

/** Shared per-file open + verify + cell addressing for both readers. */
private[sdfits] abstract class SdfitsFileAccess(
    file: String, full: StructType, conf: Configuration) {
  protected val bytes: Array[Byte] = SdfitsTableProvider.readFully(file, conf)
  protected val table: TableSpec = {
    val (_, t) = SdfitsFormat.open(bytes)
    val actual = SdfitsTableProvider.toStructType(t.cols)
    if (actual != full)
      throw new SdfitsVerificationException(
        s"$file: schema ${actual.simpleString} does not match the table's ${full.simpleString}")
    t
  }
  private val offsets = table.cols.scanLeft(0)(_ + _.bytes)
  protected def colAt(name: String): (ColSpec, Int) = {
    val i = table.cols.indexWhere(_.name == name)
    (table.cols(i), offsets(i))
  }
  protected def decode(row: Int, ca: (ColSpec, Int)): Any =
    SdfitsFormat.decodeCell(bytes, table, row, ca._1, ca._2)
}

private[sdfits] class SdfitsPartitionReader(
    file: String, full: StructType, required: StructType,
    filters: Array[Filter], channels: Option[(Int, Int)], check: Option[StampCheck],
    conf: Configuration)
    extends SdfitsFileAccess(file, full, conf) with PartitionReader[InternalRow] {

  // (column spec, byte offset within row) per projected field — unprojected
  // columns are never decoded
  private val projected: Array[(ColSpec, Int)] = required.fields.map(f => colAt(f.name))
  // With a pushed channel range, vector columns decode ONLY the sliced
  // bytes (clamped like Spark's `slice`); scalar columns are untouched.
  private val decoders: Array[Int => Any] =
    required.fields.zip(projected).map { case (f, ca) =>
      (channels, f.dataType) match {
        case (Some((start, n)), _: ArrayType) =>
          (r: Int) => SdfitsFormat.decodeCellSlice(bytes, table, r, ca._1, ca._2, start, n)
        case _ =>
          (r: Int) => decode(r, ca)
      }
    }
  // pushed predicates resolved to their cells — evaluated BEFORE projection
  // decode, so a rejected row never materializes its DATA vector.
  // IsNotNull is vacuously true on non-nullable columns: accepted in the
  // pushdown (it rides along with every comparison Spark generates) but
  // never evaluated, so it costs no decode.
  private val preds: Array[(Filter, (ColSpec, Int))] =
    filters.filterNot(_.isInstanceOf[IsNotNull])
      .map(f => (f, colAt(SdfitsPushdown.attrOf(f))))
  private var row = -1

  private def rowPasses(r: Int): Boolean = {
    var i = 0
    while (i < preds.length) {
      if (!SdfitsPushdown.passes(decode(r, preds(i)._2), preds(i)._1)) return false
      i += 1
    }
    true
  }

  override def next(): Boolean = {
    row += 1
    while (row < table.nRows && !rowPasses(row)) row += 1
    row < table.nRows
  }

  override def get(): InternalRow = {
    val vals = new Array[Any](projected.length)
    var i = 0
    while (i < projected.length) { vals(i) = decoders(i)(row); i += 1 }
    check.foreach(_(vals))
    i = 0
    while (i < projected.length) {
      vals(i) = vals(i) match {
        case s: String          => UTF8String.fromString(s)
        // Unboxed: one copy of the decoded primitives, which the scan's
        // UnsafeProjection then copies as one block.
        case a: Array[Double]   => UnsafeArrayData.fromPrimitiveArray(a)
        case a: Array[Float]    => UnsafeArrayData.fromPrimitiveArray(a)
        case other              => other
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = ()
}

/** Partial-aggregate rows per file: one row per pushed GROUP (one total
  * for a global aggregate — emitted even when nothing matches, count 0 /
  * null extrema). Unfiltered ungrouped counts come from the header's
  * NAXIS2 with zero cell decodes; otherwise one pass decodes only the
  * filter + grouping + aggregated columns. Spark plans the final merge
  * (SUM over the partial counts, MIN/MAX over the partial extrema,
  * re-grouped on the pushed keys), unless the pushdown is complete:
  * `stampedKey` (the key column and this file's `KEYVAL`) is then set, and
  * every aggregated row's key cell is checked against it.
  */
private[sdfits] class SdfitsAggReader(
    file: String, full: StructType, filters: Array[Filter],
    groupBy: Seq[String], aggs: Seq[SdfitsPushdown.Agg],
    stampedKey: Option[(String, Any)], conf: Configuration)
    extends SdfitsFileAccess(file, full, conf) with PartitionReader[InternalRow] {
  import SdfitsPushdown._

  private final class GroupState {
    var count = 0L
    val mins = scala.collection.mutable.Map.empty[String, Any]
    val maxs = scala.collection.mutable.Map.empty[String, Any]
    // Long for integral columns (Math.addExact — overflow throws, the
    // ANSI sum contract), Double for float/double columns.
    val sums = scala.collection.mutable.Map.empty[String, Any]
  }

  private def compute(): Seq[InternalRow] = {
    val preds: Array[(Filter, (ColSpec, Int))] =
      filters.filterNot(_.isInstanceOf[IsNotNull])
        .map(f => (f, colAt(SdfitsPushdown.attrOf(f))))
    val keyCols: Seq[(ColSpec, Int)] = groupBy.map(colAt)
    val cols: Map[String, (ColSpec, Int)] = aggs.collect {
      case MinCol(n) => n -> colAt(n)
      case MaxCol(n) => n -> colAt(n)
      case SumCol(n) => n -> colAt(n)
    }.toMap
    val extremaCols: Set[String] = aggs.collect {
      case MinCol(n) => n
      case MaxCol(n) => n
    }.toSet
    val sumCols: Set[String] = aggs.collect { case SumCol(n) => n }.toSet
    if (preds.isEmpty && keyCols.isEmpty && cols.isEmpty)
      // pure global COUNT: the header already knows
      return Seq(new GenericInternalRow(
        Array[Any](aggs.map(_ => table.nRows.toLong): _*)))
    // insertion-ordered so the partial rows are deterministic per file
    // (Spark's final merge doesn't care, determinism is free here)
    val groups = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], GroupState]
    var r = 0
    while (r < table.nRows) {
      var ok = true
      var i = 0
      while (ok && i < preds.length) {
        ok = passes(decode(r, preds(i)._2), preds(i)._1)
        i += 1
      }
      if (ok) {
        val key = keyCols.map(decode(r, _))
        checkKey(key, r)
        val st = groups.getOrElseUpdate(key, new GroupState)
        st.count += 1
        cols.foreach { case (n, ca) =>
          val v = decode(r, ca)
          if (extremaCols(n)) {
            if (!st.mins.contains(n) || cmpAny(v, st.mins(n)) < 0) st.mins(n) = v
            if (!st.maxs.contains(n) || cmpAny(v, st.maxs(n)) > 0) st.maxs(n) = v
          }
          if (sumCols(n)) st.sums(n) = (st.sums.get(n), v) match {
            case (None, c: Int)            => c.toLong
            case (None, c: Long)           => c
            case (None, c: Float)          => c.toDouble
            case (None, c: Double)         => c
            case (Some(a: Long), c: Int)   => Math.addExact(a, c.toLong)
            case (Some(a: Long), c: Long)  => Math.addExact(a, c)
            case (Some(a: Double), c: Float)  => a + c.toDouble
            case (Some(a: Double), c: Double) => a + c
            case other =>
              throw new IllegalStateException(s"sdfits sum: unexpected $other")
          }
        }
      }
      r += 1
    }
    // a GLOBAL aggregate over zero matches still produces its one partial
    if (groupBy.isEmpty && groups.isEmpty) groups(Nil) = new GroupState
    groups.iterator.map { case (key, st) =>
      new GenericInternalRow((key.map(toCatalyst) ++ aggs.map {
        case RowCount  => st.count
        case MinCol(n) => toCatalyst(st.mins.get(n).orNull)
        case MaxCol(n) => toCatalyst(st.maxs.get(n).orNull)
        case SumCol(n) => st.sums.get(n).orNull
      }).toArray[Any])
    }.toSeq
  }

  // Under a complete pushdown, every aggregated row's key cell must equal
  // its file's KEYVAL, as the row reader's StampCheck checks.
  private val keyAt = stampedKey.map { case (c, _) => groupBy.indexOf(c) }.getOrElse(-1)
  private def checkKey(key: Seq[Any], r: Int): Unit =
    if (keyAt >= 0 && key(keyAt) != stampedKey.get._2)
      throw new SdfitsVerificationException(
        s"$file: ${stampedKey.get._1} '${key(keyAt)}' at row $r differs from its " +
          s"${SdfitsFormat.KeyValueCard} card '${stampedKey.get._2}'")

  private val out: Iterator[InternalRow] = compute().iterator
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!out.hasNext) return false
    current = out.next()
    true
  }

  override def get(): InternalRow = current

  private def cmpAny(a: Any, b: Any): Int = SdfitsPushdown.cmp(a, b)
  private def toCatalyst(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case other     => other
  }

  override def close(): Unit = ()
}
