package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Positions

/** Shared builders for the driver-contract queries (`SparkEntry.queries`).
  *
  * The driver's correctness corpus is TPC-H-ish (TESTDATA.md), while the
  * reference operates on SDFITS observation cubes — so these helpers project
  * the corpus into the observation shape deterministically: `DATA` array
  * columns synthesized from lineitem numerics, observation flags synthesized
  * from key arithmetic. Every derivation is expressible in the DuckDB oracle
  * SQL, which is what makes the operator results hash-checkable.
  *
  * Exactness discipline (the driver hash-compares against DuckDB):
  *  - per-row arithmetic uses the same IEEE op sequence on both sides →
  *    bit-exact;
  *  - cross-row double sums only ever aggregate integer-valued doubles
  *    (exact at any summation order, so Spark's partial aggregation and
  *    DuckDB's sequential sum agree bit-for-bit);
  *  - the few transcendental kernels (exp/pow/sin) are rounded to 6 decimals
  *    on BOTH sides, absorbing possible last-ulp libm differences.
  */
object QueryUtil {

  type Q = (SparkSession, String) => DataFrame

  def li(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "lineitem")
  def ord(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "orders")
  def docs(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "documents")

  /** [[docs]] spread to session parallelism. The sf corpora are single
    * parquet files, so every scan is ONE task and CPU-heavy per-doc
    * pipelines (LM position explodes, line shingling) run single-threaded
    * end to end — a small-file artifact a real corpus never has (a
    * multi-file 100 TB scan gets thousands of tasks from
    * maxPartitionBytes). One explicit round-robin repartition up front
    * restores the parallelism the scan would have at scale; map-only
    * queries keep reading [[docs]] directly — there the shuffle would cost
    * more than it buys.
    */
  def docsSpread(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).repartition(s.sparkContext.defaultParallelism)
  def emb(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "embeddings")
  def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** 4-channel DATA vector from lineitem numerics (per-row ops only — the
    * price/discount elements are NOT exact under cross-row summation).
    */
  def data4: Column =
    array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))

  /** Oracle-side rendering of [[data4]]. */
  val data4Sql = "[l_quantity, l_extendedprice, l_discount, l_tax]"

  /** Integer-valued 3-channel DATA vector — exact under any summation order,
    * used wherever a query aggregates across rows.
    */
  def int3: Column =
    array(col("l_quantity"), col("l_linenumber").cast("double"),
      (col("l_partkey") % 7).cast("double"))

  /** Integer-valued 4-channel variant for the 4-channel spectrum pipeline. */
  def int4: Column =
    array(col("l_quantity"), col("l_linenumber").cast("double"),
      (col("l_partkey") % 7).cast("double"), (col("l_suppkey") % 5).cast("double"))

  /** The lineitem 4-key: a unique row order, the fixture's FITS row order. */
  val liKey: Seq[String] = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")

  /** The registry's observation fixture: `lineitem` projected into the
    * SDFITS observation shape, ROWIDX = per-file 0-based position in
    * [[liKey]] order ([[Positions.withPos]]), DATE_OBS = epoch + ROWIDX s.
    *  - `files`: FILE_ID "0" for 1, else `l_orderkey % files`.
    *  - `spikes`: the continuum pattern per file of n rows — diode-on
    *    [0,8) and [n−8,n), diode-off [8,16) and [n−16,n−8), science data
    *    between (ST1 resolves data_start = 16, post_cal_start = n−16) — with
    *    FLAT spike levels: diode-on DATA sums to 8.0, diode-off to 2.0, so
    *    the pre/post heights are exactly (6.0, 0.0), z = 0/0 = NaN takes the
    *    mean-height branch, and the continuum gain has a closed-form oracle:
    *    science intensity / 6. Without spikes every row is science data
    *    (CALSTATE = SWPVALID = 0, the reference's F2 keep-set) over the
    *    integer-valued [[int4]] (exact under any summation order).
    *  - `offAt`: OBSMODE flips to 'onoff:off' at that per-file row; None
    *    keeps 'onoff:on' throughout.
    */
  def obs(lineitem: DataFrame, files: Int, spikes: Boolean, offAt: Option[Int]): DataFrame = {
    val fid = if (files == 1) lit("0") else (col("l_orderkey") % files).cast("string")
    val pos = Positions.withPos(lineitem.withColumn("FILE_ID", fid), ordCols = liKey,
      out = "ROWIDX", bucketWidth = 4096L, countCol = Option.when(spikes)("__n"))
    val at = col("ROWIDX")
    val spike = at < 16 || at >= col("__n") - 16
    val diodeOn = at < 8 || at >= col("__n") - 8
    pos.select(
      col("FILE_ID"), at,
      expr("timestampadd(SECOND, ROWIDX, TIMESTAMP '2024-01-01 00:00:00')").as("DATE_OBS"),
      (if (spikes) when(spike && diodeOn, array(lit(2.0), lit(2.0), lit(2.0), lit(2.0)))
         .when(spike, array(lit(0.5), lit(0.5), lit(0.5), lit(0.5)))
         .otherwise(data4)
       else int4).as("DATA"),
      lit(0).as("IFNUM"), lit(1).as("PLNUM"),
      (if (spikes) when(diodeOn, 1).otherwise(0) else lit(0)).as("CALSTATE"),
      (if (spikes) when(spike, 0).otherwise(1) else lit(0)).as("SWPVALID"),
      offAt.fold(lit("onoff:on"))(k =>
        when(at < k, lit("onoff:on")).otherwise(lit("onoff:off"))).as("OBSMODE"))
  }

  /** The synthetic observation header shared by the pipeline queries:
    * HIRES mode, band centers 1355/1435 MHz, 80 MHz bandwidth, 4 channels
    * (START,STOP 0_3) → ifnum 0 axis = linspace(1395, 1315, 4) descending.
    */
  def obsHeader(nChannels: Int = 4): graft.model.HeaderRecord.Header =
    graft.model.HeaderRecord.Header(
      date = java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      obsmode = "onoff",
      obsfreq = 1400.0,
      obsbw = 80.0,
      // Double-space key/value separation: with a single space the greedy
      // key regex swallows all but the last word (a reference quirk shared
      // by graft — pinned by q_c1_history and HeaderRecordSpec).
      history = graft.model.HeaderRecord.parseHistory(Seq(
        "DATAMODE HIRES / data resolution mode",
        s"START,STOP channels  0_${nChannels - 1}",
        "HIRES bands  1355, 1435",
        "RFFILTER  1350 1450")))

  /** Cheap change-detection fingerprint of source parquet tables under
    * `dir`: per table the recursive (file count, total bytes, max mtime).
    * No data is read — this keys idempotent layout publishes (bucketed
    * tables) so a republish happens exactly when the source files change.
    */
  def sourceSignature(dir: String, tables: String*): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(f) else Seq.empty
    tables.map { t =>
      val fs = walk(new java.io.File(dir, s"$t.parquet"))
      s"$t:${fs.size}:${fs.map(_.length).sum}:${fs.map(_.lastModified).foldLeft(0L)(math.max)}"
    }.mkString(";")
  }

  /** Round a driver-side double to 6 decimals (HALF_UP), mirroring SQL
    * `round(x, 6)` on the oracle side.
    */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Scratch directory for the S3/S4 staged-write queries: the build target
    * when the JVM runs from the repo root (the harness does), otherwise the
    * system temp dir — never a cwd-relative path that could land outside
    * either when some launcher sets a different working directory.
    */
  def stagingDir(): String = {
    val repoTarget = new java.io.File("target")
    val d = if (repoTarget.isDirectory) new java.io.File(repoTarget, "staging")
            else new java.io.File(System.getProperty("java.io.tmpdir"), "graft-staging")
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Per-JVM scratch root for PER-RUN staged writes (snapshot stores, ORC
    * round trips, ANN index roots — anything a query destroys and rebuilds
    * every run) and for the staged inputs of [[stagedInput]]. PID-scoped so
    * a concurrently-running sibling JVM (Bench beside Verify — measured in
    * r17: a `SnapshotStore.destroy` / `mode("overwrite")` from one JVM
    * deleted the other's `_temporary` mid-write) can never clobber this
    * one's scratch; swept recursively on JVM exit.
    */
  lazy val scratchDir: String = {
    val p = new java.io.File(stagingDir(), "run_" + ProcessHandle.current().pid())
    p.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rec(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rec)); f.delete(); ()
      }
      rec(p)
    }))
    p.getAbsolutePath
  }

  /** A staged input derived from source tables, built by `write` at
    * `scratchDir/rel` on this JVM's first call and reused while its marker
    * holds `fingerprint` ([[sourceSignature]]): every JVM's first run of a
    * query writes it and counts the same jobs, whatever an earlier JVM left.
    */
  def stagedInput(rel: String, fingerprint: String)(write: java.io.File => Unit): java.io.File = {
    val out = new java.io.File(scratchDir, rel)
    val marker = new java.io.File(out.getPath + ".src")
    if (!(out.exists && marker.isFile && java.nio.file.Files.readString(marker.toPath) == fingerprint)) {
      out.getParentFile.mkdirs()
      write(out)
      java.nio.file.Files.writeString(marker.toPath, fingerprint)
    }
    out
  }

  /** Build-once-per-JVM staged derived input (VERDICT r15 item 2).
    *
    * Several certificates exercise SEMANTICS over the same expensive
    * derived artifact — e.g. the full-corpus kNN graph feeds `q_sim_hnsw`,
    * `q_sim_hnsw_recall` and `q_sim_index_release`'s v2 rebuild — and
    * rebuilding it per query benchmarks the same build three times without
    * certifying anything new. The first caller in a JVM builds and writes
    * the artifact to staging PARQUET; later callers read it back. Parquet,
    * not a cached/checkpointed DataFrame, because the bench/verify harness
    * unpersists every block between queries.
    *
    * Keys must embed the input dir (hash suffices) and all build params so
    * runs at different scale factors never collide; results stay
    * deterministic because the builders themselves are partition-invariant
    * (certified in INVARIANCE_*) — content is identical whichever query
    * triggers the build, and each query remains independently runnable.
    */
  private val stagedArtifacts =
    scala.collection.concurrent.TrieMap[String, StagedSlot]()
  /** Per-key memo cell: the lock is the SLOT, not the map (ADVICE r16 —
    * a single global lock would serialize unrelated keys behind an
    * ~80-job graph build). `path` is written once under the slot's
    * monitor; double-checked read outside it.
    */
  private final class StagedSlot { @volatile var path: String = _ }
  def stagedOnce(s: SparkSession, key: String, build: () => DataFrame): DataFrame = {
    // The artifact path embeds the PID because the file is only ever READ
    // by the JVM that built it (the map gates) — so a concurrent sibling
    // process (Bench beside Verify) can never overwrite a staged file
    // mid-read. deleteOnExit sweeps the PID's artifacts when the JVM
    // leaves (ADVICE r16: staged files used to accumulate across runs);
    // parquet is a DIRECTORY, so register its files too.
    val slot = stagedArtifacts.getOrElseUpdate(key, new StagedSlot)
    if (slot.path == null) slot.synchronized {
      if (slot.path == null) {
        val p = stagingDir() + "/once_" +
          ProcessHandle.current().pid() + "_" + key
        build().write.mode("overwrite").parquet(p)
        val d = new java.io.File(p)
        d.deleteOnExit()
        Option(d.listFiles()).foreach(_.foreach(_.deleteOnExit()))
        slot.path = p
      }
    }
    s.read.parquet(slot.path)
  }
}
