package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** JSONL corpus ingestion with malformed-row quarantine — the standard
  * entry point of a training-data pipeline (web corpora ship as JSON
  * lines, and some fraction of every crawl is broken).
  *
  * Implementation: line-oriented `text` scan + `from_json`, which yields a
  * NULL struct for an unparseable line — rows that parse take their schema
  * fields, rows that don't carry the raw line into the quarantine frame.
  * Both halves are filters over the same scan shape (no driver
  * involvement, no second parse of good rows), and the quarantine keeps
  * the raw bytes so a fixed parser can replay it later — silently dropping
  * unparseable rows is how corpora lose data unaccountably. (The built-in
  * JSON reader's `_corrupt_record` column would be the obvious
  * alternative, but Spark disallows plans that end up referencing only
  * that column, which is exactly the quarantine projection.)
  *
  * Scale shape: the text scan is splittable by line; schema is
  * CALLER-SUPPLIED — never inferred, which would scan the corpus twice and
  * lock in whatever the first sample happened to contain.
  */
object TextIngest {

  val CorruptCol = "_corrupt_record"

  /** Read JSON-lines at `path` against `schema`; returns (good, quarantined).
    * `good` has exactly the schema's columns; `quarantined` is one string
    * column [[CorruptCol]] holding each malformed raw line. A line that
    * parses but lacks a field is GOOD with that field null (standard JSONL
    * leniency); only lines that fail to parse as JSON quarantine.
    *
    * Corruption detection: `from_json` in PERMISSIVE mode yields an
    * all-null ROW (not a null struct) for malformed input — which a valid
    * `{}` line also yields — so the corrupt-record field goes INSIDE the
    * parse schema, where the parser populates it exactly for lines that
    * failed.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType)
      : (DataFrame, DataFrame) =
    splitJsonl(spark.read.text(path), schema)

  /** Streaming form — the ingestion-time gate: the same split over
    * `readStream.text(dir)`, so new corpus files route good rows to the
    * pipeline and broken rows to a quarantine sink as they arrive. Both
    * halves are STATELESS (pure projections/filters of the stream), so any
    * output mode / watermark discipline of the surrounding query applies
    * unchanged.
    */
  def readJsonlStream(spark: SparkSession, path: String, schema: StructType)
      : (DataFrame, DataFrame) =
    splitJsonl(spark.readStream.text(path), schema)

  /** CSV twin of [[readJsonl]] — delimited corpora (TSV exports, metadata
    * dumps) with the same quarantine contract: caller-supplied schema,
    * malformed lines kept verbatim, both halves filters over one
    * splittable text scan. `from_csv` in PERMISSIVE mode populates the
    * in-schema corrupt-record field exactly like `from_json` (wrong arity
    * or an untypeable field → the raw line lands in [[CorruptCol]]).
    * Pass `options` for delimiter etc. (defaults: comma, no header — a
    * header line quarantines loudly rather than parsing as data).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      options: Map[String, String] = Map.empty): (DataFrame, DataFrame) =
    splitCsv(spark.read.text(path), schema, options)

  /** The CSV split over any one-string-column `value` frame. */
  def splitCsv(lines: DataFrame, schema: StructType,
      options: Map[String, String] = Map.empty): (DataFrame, DataFrame) = {
    require(!schema.fieldNames.contains(CorruptCol),
      s"schema must not already contain $CorruptCol")
    val withCorrupt = StructType(schema.fields :+
      StructField(CorruptCol, StringType, nullable = true))
    val parsed = lines
      .withColumn("__p", from_csv(col("value"), withCorrupt,
        options ++ Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> CorruptCol)))
    val good = parsed.filter(col(s"__p.$CorruptCol").isNull)
      .select(schema.fieldNames.map(f => col(s"__p.$f")).toIndexedSeq: _*)
    val bad = parsed.filter(col(s"__p.$CorruptCol").isNotNull)
      .select(col("value").as(CorruptCol))
    (good, bad)
  }

  /** The split itself, over ANY one-string-column `value` frame (batch or
    * streaming — both readers above share it).
    */
  def splitJsonl(lines: DataFrame, schema: StructType): (DataFrame, DataFrame) = {
    require(!schema.fieldNames.contains(CorruptCol),
      s"schema must not already contain $CorruptCol")
    val withCorrupt = StructType(schema.fields :+
      StructField(CorruptCol, StringType, nullable = true))
    val parsed = lines
      .withColumn("__p", from_json(col("value"), withCorrupt,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)))
    val good = parsed.filter(col(s"__p.$CorruptCol").isNull)
      .select(schema.fieldNames.map(f => col(s"__p.$f")).toIndexedSeq: _*)
    val bad = parsed.filter(col(s"__p.$CorruptCol").isNotNull)
      .select(col("value").as(CorruptCol))
    (good, bad)
  }
}
