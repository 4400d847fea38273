package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ArrayOps
import graft.model.HeaderRecord
import graft.ops._
import graft.pipeline.{Continuum, Pipeline, Spectrum, Validate}
import QueryUtil._

/** Driver-contract queries for the reference-derived operator families
  * (SURVEY.md §2: S/F/A/U/C/ST rows plus the §3 pipeline compositions),
  * each expressed over the TESTDATA corpus with a DuckDB oracle where the
  * semantics are SQL-expressible. See QueryUtil for the exactness rules.
  */
object RadioQueries {

  /** Shared literal tables for q_pipeline_atmosphere (finding 47): the Buck
    * exp over the fixture's integer-Celsius grid (l_quantity = 1..50) and
    * sin(elev°) over the 85-value elevation grid — computed ONCE on the JVM
    * and embedded as literals in BOTH engines' plans, so no engine-native
    * exp/sin reaches the compared value (the finding-37 shared-table
    * discipline; the tables use exact integer arguments, not the
    * (q+273.15)−273.15 float residue the retired formulation carried). */
  private lazy val atmExpTable: Seq[Double] =
    (1 to 50).map(q => math.exp(17.502 * q / (q + 240.97)))
  private lazy val atmSinTable: Seq[Double] =
    (0 until 85).map(e => math.sin(math.toRadians(5.0 + e)))

  /** A double table as DuckDB list text — Double.toString is shortest
    * round-trip and DuckDB's parse is correctly rounded, so the parsed
    * bits equal the JVM doubles. */
  private def duckList(xs: Seq[Double]): String =
    xs.map(_.toString).mkString("LIST_VALUE(", ", ", ")")

  /** q_pipeline_atmosphere's loud int64 ceiling on the pre-division
    * micro numerator: num ≤ this ⇒ num div 1e5 fits a long (slightly
    * under Long.Max·1e5). Shared literal — the same comparison runs in
    * both engines, so overflow aborts identically instead of Spark's
    * silent decimal→long narrowing vs DuckDB's loud HUGEINT cast. */
  private val AtmNumBound =
    graft.functions.AtmosphereKernels.NumBound.toString

  def queries: Map[String, Q] = Map(
    // --- F: projections / filters / predicates -----------------------------
    "q_f1_feedpol" -> ((s, dir) =>
      li(s, dir)
        .filter(col("l_linenumber") === 1 && col("l_returnflag") === "A")
        .orderBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))),

    "q_f2_science" -> ((s, dir) =>
      ord(s, dir)
        .filter(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))),

    "q_f3_diode_split" -> ((s, dir) =>
      li(s, dir)
        .withColumn("CALSTATE", (col("l_orderkey") % 2).cast("int"))
        .withColumn("SWPVALID", (col("l_partkey") % 2).cast("int"))
        .agg(
          sum(when(GainCal.diodeOn, 1L).otherwise(0L)).as("n_on"),
          sum(when(GainCal.diodeOff, 1L).otherwise(0L)).as("n_off"))),

    "q_f4_nonneg" -> ((s, dir) =>
      Validation.filterNonPhysical(
          li(s, dir).withColumn("MJD", col("l_quantity") - 25),
          Seq("MJD", "TSYS" /* absent: skipped, ref validate.py:59-70 */))
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "q_f5_nanmask" -> ((s, dir) =>
      // posexplode in the final projection (bit-exact doubles): the driver's
      // checker cannot sort raw array<double> columns (VERDICT r3 item 1).
      // Sort BEFORE the explode: the range-sort's sampling pass then touches
      // only raw columns and 1/4 the rows, and the per-element work runs
      // map-side after the exchange, evaluated once. Generate preserves the
      // sorted row order, so the unique 4-key + chan is a total order.
      Validation.maskNaN(
          li(s, dir).withColumn("DATA",
            array(col("l_quantity"),
              when(col("l_linenumber") === 3, lit(Double.NaN)).otherwise(col("l_discount")))))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          posexplode(col("DATA")).as(Seq("chan", "value")))),

    "q_f6_timerange" -> ((s, dir) => {
      val t0 = to_timestamp(lit("1995-01-01 00:00:00"))
      RangeFilters.filterTimeRanges(
          ord(s, dir), t0,
          include = Seq((0.0, 31536000.0)),
          exclude = Seq((2592000.0, 5184000.0)),
          tsCol = "o_orderdate")
        .select(col("o_orderkey"),
          RangeFilters.relSeconds(col("o_orderdate"), t0).as("t"))
        .orderBy(col("o_orderkey"))
    }),

    "q_f7_freqsel" -> ((s, dir) => {
      val freqs = ArrayOps.freqAxis(1500.0, 1400.0, 4)
      val (_, out) = RangeFilters.filterFrequencyRanges(
        li(s, dir).withColumn("DATA", data4), freqs,
        include = Seq((1420.0, 1470.0)), exclude = Nil)
      out.orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          posexplode(col("DATA")).as(Seq("chan", "value")))
    }),

    "q_f8_crop" -> ((s, dir) =>
      Validation.cropChannels(li(s, dir).withColumn("DATA", data4), 1, 2)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          posexplode(col("DATA")).as(Seq("chan", "value")))),

    "q_f9_rowslice" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      // Filter on row_number ITSELF (not a derived column) so Catalyst's
      // InferWindowGroupLimit plans a bounded map-side top-50 per flag
      // (the q_url_domaincap discipline). l_returnflag has 3 values: the
      // naive full window funnels a third of the corpus through one task
      // and sorts it, for 50 surviving rows — 6x for 10x data at sf1.
      li(s, dir)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 50)
        .withColumn("idx", (col("__rn") - 1).cast("long"))
        .select(col("l_returnflag"), col("idx"), col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_returnflag"), col("idx"))
    }),

    // --- A: aggregations ----------------------------------------------------
    "q_a1_continuum" -> ((s, dir) =>
      Integration.continuum(
          li(s, dir).withColumn("DATA", data4).withColumn("DATE_OBS", col("l_shipdate")),
          to_timestamp(lit("1994-01-01 00:00:00")))
        .orderBy(col("t"), col("intensity"))),

    "q_a2_spectrum" -> ((s, dir) =>
      Integration.spectrumBy(li(s, dir).withColumn("DATA", int3), col("l_returnflag"))
        .select(col("l_returnflag"), posexplode(col("spectrum")).as(Seq("chan", "value")))
        .orderBy(col("l_returnflag"), col("chan"))),

    "q_a3_interleave" -> ((s, dir) =>
      Integration.sweepInterleaveDF(li(s, dir), "l_returnflag", "l_linestatus")),

    "q_a4_means" -> ((s, dir) =>
      li(s, dir).groupBy(col("l_returnflag"))
        .agg(avg(col("l_quantity")).as("mean_qty"))
        .orderBy(col("l_returnflag"))),

    "q_a5_ols" -> ((s, dir) =>
      RobustFit.olsAgg(
          li(s, dir)
            .withColumn("x", (col("l_partkey") % 50).cast("double"))
            .withColumn("y", col("l_quantity") * 2 + (col("l_suppkey") % 11)),
          Seq(col("l_returnflag")), col("x"), col("y"))
        .orderBy(col("l_returnflag"))),

    "q_a7_rcr" -> ((s, dir) => {
      // Perfect line y = 2x + 1 with ~1% injected outliers at +1000: RCR must
      // reject them and recover the line (ref continuum.py:72-109). Rounded to
      // 6 decimals — any surviving subset of a perfect line refits to it.
      // The collect is BOUNDED (l_orderkey <= 8000 → ~2k points at any SF),
      // matching the reference's tiny calibration windows; unbounded data
      // goes through q_a7_rcr_dist (VERDICT r3 item 6).
      val rows = li(s, dir).filter(col("l_linenumber") === 1 && col("l_orderkey") <= 8000)
        .select(
          (col("l_orderkey") % 100).cast("double").as("x"),
          ((col("l_orderkey") % 100) * 2 + 1 +
            when(col("l_orderkey") % 97 === 0, 1000.0).otherwise(0.0)).as("y"))
        .collect()
      val x = rows.map(_.getDouble(0)); val y = rows.map(_.getDouble(1))
      val r = RobustFit.rcrLinearFit(x, y)
      import s.implicits._
      Seq((round6(r.fit.slope), round6(r.fit.intercept))).toDF("slope", "intercept")
    }),

    "q_a7_rcr_dist" -> ((s, dir) => {
      // Same fixture as q_a7_rcr through the DISTRIBUTED reject–refit loop
      // (one Spark job per iteration, exact percentile aggregates) — the A7
      // scale path for windows too large to collect.
      val src = li(s, dir).filter(col("l_linenumber") === 1)
        .withColumn("x", (col("l_orderkey") % 100).cast("double"))
        .withColumn("y", (col("l_orderkey") % 100) * 2 + 1 +
          when(col("l_orderkey") % 97 === 0, 1000.0).otherwise(0.0))
      val (fit, _, _) = RobustFit.rcrFitDistributed(src, col("x"), col("y"))
      import s.implicits._
      Seq((round6(fit.slope), round6(fit.intercept))).toDF("slope", "intercept")
    }),

    "q_a8_calheight" -> ((s, dir) => {
      // Flat diode-on level 5.0 vs diode-off 2.0 → height exactly (3.0, 0.0).
      val window = li(s, dir).filter(col("l_orderkey") % 100 === 1)
        .select(
          (col("l_orderkey") % 8).cast("double").as("t"),
          when(col("l_partkey") % 2 === 1, 5.0).otherwise(2.0).as("intensity"),
          (col("l_partkey") % 2).cast("int").as("CALSTATE"),
          lit(0).as("SWPVALID"))
      import s.implicits._
      GainCal.calibrationHeight(window) match {
        case Some(h) => Seq((h.delta, h.sd)).toDF("delta", "sd")
        case None    => Seq.empty[(Double, Double)].toDF("delta", "sd")
      }
    }),

    "q_a9_gain_drift" -> ((s, dir) =>
      GainCal.applyGain(
          ord(s, dir).select(col("o_orderkey").cast("double").as("t"),
            col("o_totalprice").as("intensity")),
          pre = Some(GainCal.Height(2.0, 0.1)),
          post = Some(GainCal.Height(4.0, 0.1))) // z = 14.1 ≥ 1.96 → interpolated
        .orderBy(col("t"))),

    "q_a9_gain_avg" -> ((s, dir) =>
      GainCal.applyGain(
          ord(s, dir).select(col("o_orderkey").cast("double").as("t"),
            col("o_totalprice").as("intensity")),
          pre = Some(GainCal.Height(2.0, 10.0)),
          post = Some(GainCal.Height(4.0, 10.0))) // z = 0.14 < 1.96 → mean height
        .orderBy(col("t"))),

    "q_a10_onoff" -> ((s, dir) =>
      // Single aggregation pass + 2-row fold (see Spectrum.run) — not a
      // filter/crossJoin pair, which would aggregate the table twice.
      // Certificate output is posexploded to relational (channel, diff)
      // rows: the driver comparator cannot row-sort array cells (r15's
      // q_profile_quantiles crash class); onOffDiff itself stays
      // array-valued for in-library composition.
      Integration.spectrumBy(
          li(s, dir).withColumn("DATA", int3), (col("l_orderkey") % 2 === 1).as("on"))
        .agg(
          first(when(col("on"), col("spectrum")), ignoreNulls = true).as("s_on"),
          first(when(!col("on"), col("spectrum")), ignoreNulls = true).as("s_off"))
        .select(posexplode(
          Integration.onOffDiff(col("s_on"), col("s_off"))).as(Seq("channel", "diff")))
        .orderBy(col("channel"))),

    // --- joins (SURVEY §2.3: the engine's public join surface; the
    //     reference itself never joins — cross-section combination is
    //     positional — but a user of the library does) --------------------
    "q_join_enrich" -> ((s, dir) =>
      // fact ⋈ two dims: Catalyst broadcasts part/supplier (small sides).
      li(s, dir)
        .join(graft.Tables.load(s, dir, "part").filter(col("p_size") < 20), col("l_partkey") === col("p_partkey"))
        .join(graft.Tables.load(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_brand"), col("s_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("p_brand"), col("s_nationkey"))),

    "q_join_star" -> ((s, dir) =>
      // star chain orders → customer → nation → region with exact aggregates.
      ord(s, dir)
        .join(graft.Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(graft.Tables.load(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(graft.Tables.load(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n"), min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("r_name"))),

    "q_join_asof" -> ((s, dir) => {
      // As-of enrichment: each purchase gets the user's latest view at or
      // before it — the union+window shape (one shuffle on user_id, no
      // range join), hash-checked against DuckDB's native ASOF JOIN.
      // Views are pre-deduped per (user, ts) so the as-of winner is unique.
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("view_value"))
      graft.ops.AsofJoin.asof(purchases, views, Seq("user_id"), "ts", "ts", Seq("view_value"))
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"), unix_micros(col("asof_ts")).as("view_us"), col("asof_view_value").as("view_value"))
        .orderBy(col("event_id"))
    }),

    "q_join_salted" -> ((s, dir) => {
      // Salted skew join (key spread over 8 shuffle buckets, dim replicated
      // 8x, SHUFFLE_HASH hint so the demo actually exercises the shuffle
      // path rather than auto-broadcasting the small dim) — output is
      // exactly the plain equi-join, which is what the oracle checks.
      val big = li(s, dir).select((col("l_partkey") % 100).as("k"),
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val dim = graft.Tables.load(s, dir, "part")
        .groupBy((col("p_partkey") % 100).as("k")).agg(max(col("p_retailprice")).as("p_max"))
      graft.ops.SkewJoin.saltedEquiJoin(big, dim.hint("shuffle_hash"), "k", salts = 8,
          saltSrc = xxhash64(col("l_orderkey"), col("l_linenumber")))
        .groupBy(col("k"), col("p_max"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("k"))
    }),

    // --- U: set operations --------------------------------------------------
    "q_u1_merge" -> ((s, dir) =>
      Merge.merge(Seq(
          li(s, dir).filter(col("l_linenumber") === 1),
          li(s, dir).filter(col("l_linenumber") === 2)))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    // --- C: scalar kernels --------------------------------------------------
    "q_c1_history" -> ((s, dir) => {
      // "HIRES bands  …" uses the double-space separation real cards carry;
      // "NOTES first light" exercises the single-space greedy-key quirk
      // (key "NOTES first", value "light") the reference's regex shares.
      val h = HeaderRecord.parseHistory(Seq(
        "DATAMODE HIRES / data resolution mode",
        "START,STOP channels 100_611",
        "HIRES bands  1355, 1435",
        "EXPOSURE 0.25",
        "NOTES first light / operator note",
        "!!! unparseable ???"))
      import HeaderRecord._
      import s.implicits._
      val rows = h.values.toSeq.map { case (k, v) =>
        val repr = v match {
          case HPair(a, b) => s"pair:$a:$b"
          case HNums(vs)   => "nums:" + vs.mkString(",")
          case HNum(x)     => s"num:$x"
          case HStr(str)   => s"str:$str"
        }
        (k, repr)
      } ++ h.extra.map(e => ("_extra", e))
      rows.toDF("key", "value").orderBy(col("key"), col("value"))
    }),

    "q_c2_freqrange" -> ((s, dir) => {
      val fr = HeaderRecord.frequencyRange(obsHeader(512), ifnum = 0)
      import s.implicits._
      Seq((fr.low, fr.high, fr.channelCount.toLong)).toDF("low", "high", "nchan")
    }),

    "q_c3_freqaxis" -> ((s, dir) => {
      val axis = ArrayOps.freqAxis(1395.0, 1315.0, 512)
      import s.implicits._
      axis.toSeq.zipWithIndex.map { case (f, i) => (i.toLong, f) }
        .toDF("chan", "freq").orderBy(col("chan"))
    }),

    "q_c4_isot" -> ((s, dir) =>
      // isot round-trip: format to ISO-8601, re-parse (C4), relative seconds.
      li(s, dir)
        .withColumn("isot", date_format(col("l_shipdate"), "yyyy-MM-dd'T'HH:mm:ss"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          RangeFilters.relSeconds(
            to_timestamp(col("isot"), "yyyy-MM-dd'T'HH:mm:ss"),
            to_timestamp(lit("1994-01-01 00:00:00"))).as("t"))),

    "q_c5_vapor" -> ((s, dir) =>
      li(s, dir).orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(Atmosphere.waterVaporDensity(
            lit(273.15) + col("l_quantity"),
            lit(20.0) + (col("l_partkey") % 60).cast("double")), 6).as("rho"))),

    "q_c6_atten" -> ((s, dir) =>
      li(s, dir).orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(Atmosphere.gaseousAttenuationDb(
            fGHz = (lit(10.0) + (col("l_partkey") % 30).cast("double")) / lit(10.0),
            elevDeg = lit(5.0) + (col("l_orderkey") % 85).cast("double"),
            rho = lit(7.5),
            pressure = lit(900.0) + (col("l_suppkey") % 200).cast("double"),
            tempK = lit(273.15) + col("l_quantity")), 6).as("atten_db"))),

    "q_c7_trans" -> ((s, dir) =>
      li(s, dir).orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(Atmosphere.dbToTransmission(
            (col("l_partkey") % 100).cast("double") / lit(10.0)), 6).as("trans"))),

    "q_c8_invtrans" -> ((s, dir) =>
      li(s, dir)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          posexplode(ArrayOps.vecDivide(data4,
            array(lit(0.5), lit(0.8), lit(1.25), lit(2.0)))).as(Seq("chan", "value")))),

    "q_c9_zgate" -> ((s, dir) => {
      val z = abs(col("l_quantity") - col("l_extendedprice") / 1000.0) /
        sqrt((lit(1.0) + col("l_discount")) * (lit(1.0) + col("l_discount")) +
             (lit(1.0) + col("l_tax")) * (lit(1.0) + col("l_tax")))
      li(s, dir).withColumn("z", z)
        .filter(col("z") >= 1.96)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("z"))
    }),

    "q_c4_validity" -> ((s, dir) => {
      // C4 time-validity check (ref validate.py:39-49): count rows whose
      // DATE_OBS fails to parse — check-only, no mutation, like the reference.
      val obs = li(s, dir).withColumn("DATE_OBS",
        try_to_timestamp(
          when(col("l_linenumber") === 7, lit("not-a-time"))
            .otherwise(date_format(col("l_shipdate"), "yyyy-MM-dd'T'HH:mm:ss")),
          lit("yyyy-MM-dd'T'HH:mm:ss")))
      val n = Validation.invalidTimeCount(obs)
      import s.implicits._
      Seq(n).toDF("n_invalid")
    }),

    // --- S3/S4: staged write + corruption round-trip ------------------------
    "q_s3_staged_roundtrip" -> ((s, dir) => {
      // S3+C11+S2 composition (ref utils.py:216-237 + validate.py:20): write
      // the stage to `{base}_{process}` naming, re-read through the verified
      // reader, and prove the round-trip preserved every row. Bounded input
      // (1% of lineitem) — the point is the write→verify→reread contract, not
      // bulk I/O.
      val stage = li(s, dir).filter(col("l_orderkey") % 100 === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val out = graft.pipeline.Staged.write(stage, stagingDir() + "/roundtrip", "validated")
      val reread = graft.sources.VerifiedRead.parquet(s, out, stage.schema)
      reread.agg(count(lit(1)).as("n"))
        .withColumn("staged_name_ok", lit(out.endsWith("_validated")))
    }),

    "q_s4_corruption_reject" -> ((s, dir) => {
      // S4+S2 (ref file_corruption.py:15-34): inject corruption (drop a
      // declared column) into a `{base}_corrupted` stage and prove the S2
      // verified read rejects it up front — the reference's fault-injection
      // test as a harness-checked query.
      val src = li(s, dir).filter(col("l_orderkey") % 100 === 1)
        .select(col("l_orderkey"), col("l_quantity"), col("l_tax"))
      val out = graft.sources.Corruption.writeDroppedColumn(
        src, stagingDir() + "/corrupt", "l_tax")
      val rejected =
        try { graft.sources.VerifiedRead.parquet(s, out, src.schema); false }
        catch { case _: graft.sources.VerifiedRead.SchemaViolation => true }
      import s.implicits._
      // n_src: the corrupted stage's row count, oracle-derivable from the
      // %100 predicate (VERDICT r14 item 3 — no flag-only certificates)
      Seq((rejected, out.endsWith("_corrupted"), src.count()))
        .toDF("rejected", "staged_name_ok", "n_src")
    }),

    // --- ST1: calibration-spike scan (scale path) ---------------------------
    "q_st1_calscan" -> ((s, dir) =>
      CalibrationScan.scanPerFile(obs(li(s, dir), 4, spikes = true, offAt = Some(100)),
          lit(1L), headerObsmode = "onoff")
        .select(col("FILE_ID"), col("data_start"), col("post_cal_start"), col("off_start"))
        .orderBy(col("FILE_ID"))),

    // --- §3 pipeline compositions ------------------------------------------
    "q_pipeline_validate" -> ((s, dir) => {
      val obs = Positions.withPos(li(s, dir).withColumn("FILE_ID", lit("0")),
          ordCols = liKey, out = "ROWIDX", bucketWidth = 4096L)
        .select(col("ROWIDX"),
          (col("l_quantity") - 2.0).as("TSYS"),
          array(col("l_quantity"),
            when(col("l_linenumber") === 3, lit(Double.NaN)).otherwise(col("l_discount")),
            col("l_extendedprice"), col("l_tax")).as("DATA"))
      // Validated frame materialized ONCE (VERDICT r13 item 2): without
      // the checkpoint the global sort's range-sampling pass AND the final
      // job each re-evaluated the whole scan+window+validate subtree —
      // 4× the scan at sf1 (3.29× ratio for 10× data). The checkpoint
      // holds the already-cropped 2-channel rows, so both sort passes
      // read the narrow materialization instead of recomputing.
      Validate.run(obs, obsHeader(4).copy(history = HeaderRecord.parseHistory(Seq(
          "DATAMODE HIRES", "START,STOP channels  1_2", "HIRES bands  1355, 1435"))))
        .localCheckpoint()
        .orderBy(col("ROWIDX"))
        .select(col("ROWIDX"), col("TSYS"),
          posexplode(col("DATA")).as(Seq("chan", "value")))
    }),

    "q_pipeline_continuum" -> ((s, dir) =>
      // Flat-spike fixture (gain = intensity/6 in closed form) makes the full
      // F1→ST1→A8→A1→A9 composition hash-checkable (VERDICT r3 item 4).
      // 1/5-sampled: one observation doesn't need 600k rows to prove the
      // composition — q_continuum_all is the volume/scale demonstration.
      Continuum.run(obs(li(s, dir).filter(col("l_orderkey") % 5 === 0), 1, spikes = true,
        offAt = None), obsHeader(4), Continuum.Params(ifnum = 0, plnum = 1))),

    "q_continuum_all" -> ((s, dir) =>
      // Multi-file scale path: N files reduced in ONE job chain (per-file
      // ST1 + A8 + A9 executor-side; flat spikes make the gain oracle exact).
      Continuum.runAll(obs(li(s, dir), 4, spikes = true, offAt = None), obsHeader(4),
        Continuum.Params(ifnum = 0, plnum = 1)).orderBy(col("FILE_ID"), col("t"))),

    "q_pipeline_atmosphere" -> ((s, dir) => {
      // End-to-end atmosphere correction (ref atmosphere_correction.py:59-86):
      // per-row weather → ρ (C5) → per-channel ITU-R attenuation over the GHz
      // axis (C6) → transmission (C7) → DATA /= transmission (C8) —
      // VERDICT r3 missing #1. The operator surface (Atmosphere.correct /
      // the fused ItuCorrect kernel) still serves q_c5..q_c8, whose compared
      // values are PROVEN round-6-safe on their finite grids; THIS query's
      // compared value divides unbounded corpus DATA by the transmission,
      // so its round-6 boundary distance cannot be enumerated — the PLANS.md
      // residual-risk item, closed here (finding 47) by keeping every
      // engine-native transcendental away from the compared value:
      //  - exp (in ρ) and sin(elev) come from shared JVM-computed literal
      //    tables over their finite fixture grids (50 integer temperatures,
      //    85 integer elevations), embedded in BOTH plans;
      //  - sqrt is IEEE-correctly-rounded (bit-equal across engines);
      //  - pow(rt, 5/7) is an explicit multiplication chain, mirrored
      //    textually;
      //  - the dB→transmission 10^(−A/10) runs as the fixed-point integer
      //    exp with binary range reduction: A (bit-identical double) →
      //    An = round(A·1e9) → y = An·ln10/1e10 nano-nats → y = j·ln2 + r →
      //    value = round((DATA·2ʲ)·(expNano(r)/1e9), 6). Every double op
      //    textually mirrored, every integer op identical by construction.
      val obs = li(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        data4.as("DATA"),
        (col("l_orderkey") % 85).cast("int").as("__e"),
        col("l_quantity").cast("int").as("__q"), // TPC-H grid: 1..50 exactly
        (lit(900.0) + (col("l_suppkey") % 200).cast("double")).as("__press"),
        (lit(20.0) + (col("l_partkey") % 60).cast("double")).as("__hum"),
        (col("l_quantity") + lit(273.15)).as("__tempk"))
      val eS = lit((1.0007 + 3.46e-6) * 6.1121) *
        element_at(typedLit(atmExpTable), col("__q"))
      // Sort FIRST, on the cheap frame: the range-partitioning sample pass
      // evaluates the full projection it sorts, so sorting after the heavy
      // per-channel chain computed everything twice — and the single input
      // split serialized it on one task (measured 2×12 s single-threaded).
      // Post-sort the heavy projection runs once, across the 32 sorted
      // range partitions.
      val staged = obs
        .withColumn("__rho",
          lit(216.7) * ((col("__hum") / lit(100.0)) * eS) / col("__tempk"))
        .withColumn("__rp", col("__press") / lit(1013.0))
        .withColumn("__rt", lit(288.0) / col("__tempk"))
        .withColumn("__sinel", element_at(typedLit(atmSinTable), col("__e") + 1))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("DATA"), col("__rho"), col("__rp"),
          col("__rt"), col("__sinel"),
          posexplode(typedLit(Seq(1.5, 1.25, 1.0, 0.75))).as(Seq("chan", "__fr")))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("chan"))
      // The whole per-channel correction — the ±·×÷/√ attenuation chain,
      // the Math.round lifts, the nano-nat bridge, 2ʲ·expNano(r), and the
      // half-up integer micro division — is ONE codegen'd kernel call
      // (graft.functions.AtmValueMicro): the inlined Column/decimal chain
      // was JIT-warmup-bimodal (finding 45: 3.5 s warm vs 20-40 s
      // un-JIT'd) and ran decimal(38,0) steps on BigDecimal per row. The
      // kernel throws past 180 dB or the oracle's HUGEINT num ceiling
      // (AtmosphereKernels.NumBound) exactly where the error() CASEs
      // abort — the int64-overflow window widens through BigInt, like the
      // oracle's HUGEINT num.
      staged.select(col("l_orderkey"), col("l_linenumber"), col("chan"),
        graft.functions.AtmosphereKernels.atmValueMicroCol(
          element_at(col("DATA"), col("chan") + 1),
          col("__rho"), col("__rp"), col("__rt"), col("__sinel"),
          col("__fr")).as("value_micro"))
    }),

    "q_pipeline_full" -> ((s, dir) =>
      // The reference's whole main.py driver in one call: validate →
      // continuum+spectrum (atmosphere off, like the reference driver).
      // Validation is identity on the flat fixture (no NaNs, no negative
      // physical columns, crop 0_3 over 4 channels), so the continuum
      // product carries the closed-form q_pipeline_continuum oracle over
      // the sampled fixture — what the query adds is proof the composed
      // stages are lossless. Bounded input (1/5): the composition proof
      // doesn't need 600k rows.
      Pipeline.run(obs(li(s, dir).filter(col("l_orderkey") % 5 === 0), 1, spikes = true,
        offAt = None), obsHeader(4), ifnum = 0, plnum = 1).continuum),

    "q_pipeline_spectrum" -> ((s, dir) =>
      Spectrum.run(obs(li(s, dir), 1, spikes = false, offAt = Some(100)), obsHeader(4),
        Spectrum.Params(ifnum = 0, plnum = 1))),

    "q_spectrum_all" -> ((s, dir) =>
      // Multi-file spectrum scale path: per-file ON/OFF spectra in ONE
      // groupBy(FILE_ID) aggregation pass.
      Spectrum.runAll(obs(li(s, dir), 4, spikes = false, offAt = Some(100)), obsHeader(4),
        Spectrum.Params(ifnum = 0, plnum = 1)).orderBy(col("FILE_ID"), col("pos")))
  )

  /** DuckDB oracles. Formula comments: every double expression mirrors the
    * Spark op sequence textually (same associativity) for bit-equality.
    */
  def oracleSql: Map[String, String] = Map(
    "q_f1_feedpol" ->
      """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
        |WHERE l_linenumber = 1 AND l_returnflag = 'A'
        |ORDER BY l_orderkey, l_partkey, l_suppkey""".stripMargin,

    "q_f2_science" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey""".stripMargin,

    "q_f3_diode_split" ->
      """SELECT
        |  CAST(sum(CASE WHEN l_orderkey % 2 = 1 AND l_partkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_on,
        |  CAST(sum(CASE WHEN l_orderkey % 2 = 0 AND l_partkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_off
        |FROM lineitem""".stripMargin,

    "q_f4_nonneg" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE (l_quantity - 25) IS NULL OR (l_quantity - 25) >= 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_f5_nanmask" ->
      """SELECT l_orderkey, l_linenumber, CAST(t.i AS INT) AS chan,
        |  CASE WHEN t.i = 0 THEN l_quantity
        |       WHEN l_linenumber = 3 THEN NULL ELSE l_discount END AS value
        |FROM lineitem, generate_series(0, 1) t(i)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, chan""".stripMargin,

    "q_f6_timerange" ->
      """WITH t AS (SELECT o_orderkey,
        |  CAST(epoch_us(o_orderdate) - epoch_us(TIMESTAMP '1995-01-01') AS DOUBLE) / 1000000.0 AS t
        |  FROM orders)
        |SELECT o_orderkey, t FROM t
        |WHERE (t > 0.0 AND t < 31536000.0) AND NOT (t > 2592000.0 AND t < 5184000.0)
        |ORDER BY o_orderkey""".stripMargin,

    "q_f7_freqsel" ->
      """SELECT l_orderkey, l_linenumber, CAST(t.i AS INT) AS chan,
        |  CASE WHEN t.i = 0 THEN l_extendedprice ELSE l_discount END AS value
        |FROM lineitem, generate_series(0, 1) t(i)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, chan""".stripMargin,

    "q_f8_crop" ->
      """SELECT l_orderkey, l_linenumber, CAST(t.i AS INT) AS chan,
        |  CASE WHEN t.i = 0 THEN l_extendedprice ELSE l_discount END AS value
        |FROM lineitem, generate_series(0, 1) t(i)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, chan""".stripMargin,

    "q_f9_rowslice" ->
      """SELECT l_returnflag, CAST(rn - 1 AS BIGINT) AS idx, l_orderkey, l_linenumber
        |FROM (SELECT l_returnflag, l_orderkey, l_linenumber,
        |        row_number() OVER (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS rn
        |      FROM lineitem)
        |WHERE rn <= 50 ORDER BY l_returnflag, rn""".stripMargin,

    "q_a1_continuum" ->
      """SELECT CAST(epoch_us(l_shipdate) - epoch_us(TIMESTAMP '1994-01-01') AS DOUBLE) / 1000000.0 AS t,
        |  l_quantity + l_extendedprice + l_discount + l_tax AS intensity
        |FROM lineitem ORDER BY t, intensity""".stripMargin,

    "q_a2_spectrum" ->
      """WITH s AS (SELECT l_returnflag,
        |    [CAST(sum(l_quantity) AS DOUBLE), CAST(sum(l_linenumber) AS DOUBLE),
        |     CAST(sum(l_partkey % 7) AS DOUBLE)] AS spectrum
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(t.i AS INT) AS chan, spectrum[t.i + 1] AS value
        |FROM s, generate_series(0, 2) t(i) ORDER BY l_returnflag, chan""".stripMargin,

    "q_a3_interleave" ->
      "SELECT CAST(count(DISTINCT l_returnflag) * count(DISTINCT l_linestatus) AS BIGINT) AS k FROM lineitem",

    "q_a4_means" ->
      """SELECT l_returnflag, sum(l_quantity) / count(l_quantity) AS mean_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_a5_ols" ->
      """WITH s AS (SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    sum(CAST(l_partkey % 50 AS DOUBLE)) AS sx,
        |    sum(l_quantity * 2 + (l_suppkey % 11)) AS sy,
        |    sum(CAST(l_partkey % 50 AS DOUBLE) * CAST(l_partkey % 50 AS DOUBLE)) AS sxx,
        |    sum(CAST(l_partkey % 50 AS DOUBLE) * (l_quantity * 2 + (l_suppkey % 11))) AS sxy,
        |    sum((l_quantity * 2 + (l_suppkey % 11)) * (l_quantity * 2 + (l_suppkey % 11))) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope,
        |  sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx / n AS intercept,
        |  sqrt(((syy - sy * sy / n) - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * (sxy - sx * sy / n)) / (n - 2.0) / (sxx - sx * sx / n)) AS slope_sd,
        |  sqrt(((syy - sy * sy / n) - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * (sxy - sx * sy / n)) / (n - 2.0) * (1.0 / n + (sx / n) * (sx / n) / (sxx - sx * sx / n))) AS intercept_sd
        |FROM s ORDER BY l_returnflag""".stripMargin,

    "q_a7_rcr" ->
      "SELECT CAST(2.0 AS DOUBLE) AS slope, CAST(1.0 AS DOUBLE) AS intercept",

    "q_a7_rcr_dist" ->
      "SELECT CAST(2.0 AS DOUBLE) AS slope, CAST(1.0 AS DOUBLE) AS intercept",

    "q_a8_calheight" ->
      "SELECT CAST(3.0 AS DOUBLE) AS delta, CAST(0.0 AS DOUBLE) AS sd",

    "q_a9_gain_drift" ->
      """WITH c AS (SELECT CAST(o_orderkey AS DOUBLE) AS t, o_totalprice AS intensity FROM orders),
        |  m AS (SELECT min(t) AS t1, max(t) AS t2 FROM c)
        |SELECT c.t AS t,
        |  c.intensity / (CAST(2.0 AS DOUBLE) + CAST(2.0 AS DOUBLE) * ((c.t - m.t1) / (m.t2 - m.t1))) AS intensity
        |FROM c, m ORDER BY t""".stripMargin,

    "q_a9_gain_avg" ->
      """SELECT CAST(o_orderkey AS DOUBLE) AS t, o_totalprice / CAST(3.0 AS DOUBLE) AS intensity
        |FROM orders ORDER BY t""".stripMargin,

    "q_a10_onoff" ->
      """WITH d AS (SELECT
        |  CAST(sum(CASE WHEN l_orderkey % 2 = 1 THEN l_quantity ELSE 0 END) - sum(CASE WHEN l_orderkey % 2 = 0 THEN l_quantity ELSE 0 END) AS DOUBLE) AS d0,
        |  CAST(sum(CASE WHEN l_orderkey % 2 = 1 THEN l_linenumber ELSE 0 END) - sum(CASE WHEN l_orderkey % 2 = 0 THEN l_linenumber ELSE 0 END) AS DOUBLE) AS d1,
        |  CAST(sum(CASE WHEN l_orderkey % 2 = 1 THEN l_partkey % 7 ELSE 0 END) - sum(CASE WHEN l_orderkey % 2 = 0 THEN l_partkey % 7 ELSE 0 END) AS DOUBLE) AS d2
        |FROM lineitem)
        |SELECT channel, diff FROM (
        |  SELECT 0 AS channel, d0 AS diff FROM d
        |  UNION ALL SELECT 1, d1 FROM d
        |  UNION ALL SELECT 2, d2 FROM d) ORDER BY channel""".stripMargin,

    "q_join_enrich" ->
      """SELECT p_brand, s_nationkey, CAST(count(*) AS BIGINT) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_size < 20
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_brand, s_nationkey ORDER BY p_brand, s_nationkey""".stripMargin,

    "q_join_star" ->
      """SELECT r_name, CAST(count(*) AS BIGINT) AS n, min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_join_asof" ->
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, max(value) AS view_value FROM events
        |  WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, CAST(epoch_us(p.ts) AS BIGINT) AS ts_us, p.value,
        |  CAST(epoch_us(v.ts) AS BIGINT) AS view_us, v.view_value
        |FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY event_id""".stripMargin,

    "q_join_salted" ->
      """WITH dim AS (SELECT p_partkey % 100 AS k, max(p_retailprice) AS p_max
        |  FROM part GROUP BY 1)
        |SELECT l_partkey % 100 AS k, p_max, CAST(count(*) AS BIGINT) AS n,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN dim ON l_partkey % 100 = dim.k
        |GROUP BY 1, 2 ORDER BY k""".stripMargin,

    "q_u1_merge" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n FROM lineitem
        |WHERE l_linenumber IN (1, 2) GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_c1_history" ->
      """SELECT * FROM (VALUES
        |  ('DATAMODE', 'str:HIRES'),
        |  ('EXPOSURE', 'num:0.25'),
        |  ('HIRES bands', 'nums:1355.0,1435.0'),
        |  ('NOTES first', 'str:light'),
        |  ('START,STOP channels', 'pair:100.0:611.0'),
        |  ('_extra', '!!! unparseable ???')
        |) AS t("key", "value") ORDER BY "key", "value"""".stripMargin,

    "q_c2_freqrange" ->
      "SELECT CAST(1315.0 AS DOUBLE) AS low, CAST(1395.0 AS DOUBLE) AS high, CAST(512 AS BIGINT) AS nchan",

    "q_c3_freqaxis" ->
      """SELECT CAST(i AS BIGINT) AS chan,
        |  CAST(1395.0 AS DOUBLE) - i * (CAST(1395.0 AS DOUBLE) - CAST(1315.0 AS DOUBLE)) / 511 AS freq
        |FROM generate_series(0, 511) t(i) ORDER BY chan""".stripMargin,

    "q_c4_isot" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(epoch_us(l_shipdate) - epoch_us(TIMESTAMP '1994-01-01') AS DOUBLE) / 1000000.0 AS t
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "q_c5_vapor" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(CAST(216.7 AS DOUBLE) * (((CAST(20.0 AS DOUBLE) + (l_partkey % 60)) / CAST(100.0 AS DOUBLE)) * ((1.0007 + 3.46e-6) * 6.1121) * exp(17.502 * ((CAST(273.15 AS DOUBLE) + l_quantity) - 273.15) / (((CAST(273.15 AS DOUBLE) + l_quantity) - 273.15) + 240.97))) / (CAST(273.15 AS DOUBLE) + l_quantity), 6) AS rho
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "q_c6_atten" ->
      """WITH v AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    (CAST(10.0 AS DOUBLE) + (l_partkey % 30)) / CAST(10.0 AS DOUBLE) AS f,
        |    CAST(5.0 AS DOUBLE) + (l_orderkey % 85) AS elev,
        |    CAST(7.5 AS DOUBLE) AS rho,
        |    (CAST(900.0 AS DOUBLE) + (l_suppkey % 200)) / CAST(1013.0 AS DOUBLE) AS rp,
        |    CAST(288.0 AS DOUBLE) / (CAST(273.15 AS DOUBLE) + l_quantity) AS rt
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  round(((7.27 * rt / (f * f + 0.351 * rp * rp * rt * rt) + 7.5 / ((f - 57.0) * (f - 57.0) + 2.44 * rp * rp * pow(rt, 5))) * (f * f) * rp * rp * rt * rt * 1e-3 * 6.0
        |   + (3.27e-2 * rt + 1.67e-3 * rho * pow(rt, 7) / rp + 7.7e-4 * sqrt(f) + 3.79 / ((f - 22.235) * (f - 22.235) + 9.81 * rp * rp * rt) + 11.73 * rt / ((f - 183.31) * (f - 183.31) + 11.85 * rp * rp * rt) + 4.01 * rt / ((f - 325.153) * (f - 325.153) + 10.44 * rp * rp * rt)) * (f * f) * rho * rp * rt * 1e-4 * (1.6 * (1.0 + 3.0 / ((f - 22.2) * (f - 22.2) + 5.0))))
        |   / sin(radians(elev)), 6) AS atten_db
        |FROM v ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "q_c7_trans" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(pow(CAST(10.0 AS DOUBLE), -(CAST(l_partkey % 100 AS DOUBLE) / CAST(10.0 AS DOUBLE)) / CAST(10.0 AS DOUBLE)), 6) AS trans
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "q_c8_invtrans" ->
      """SELECT l_orderkey, l_linenumber, CAST(t.i AS INT) AS chan,
        |  CASE t.i WHEN 0 THEN l_quantity / CAST(0.5 AS DOUBLE)
        |           WHEN 1 THEN l_extendedprice / CAST(0.8 AS DOUBLE)
        |           WHEN 2 THEN l_discount / CAST(1.25 AS DOUBLE)
        |           ELSE l_tax / CAST(2.0 AS DOUBLE) END AS value
        |FROM lineitem, generate_series(0, 3) t(i)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, chan""".stripMargin,

    "q_c4_validity" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_invalid FROM lineitem WHERE l_linenumber = 7",

    "q_s3_staged_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n, true AS staged_name_ok
        |FROM lineitem WHERE l_orderkey % 100 = 1""".stripMargin,

    "q_s4_corruption_reject" ->
      """SELECT true AS rejected, true AS staged_name_ok,
        |  CAST(count(*) AS BIGINT) AS n_src
        |FROM lineitem WHERE l_orderkey % 100 = 1""".stripMargin,

    "q_pipeline_atmosphere" -> {
      // Finding 47: no engine-native transcendental reaches the compared
      // value — exp/sin from the shared JVM literal tables, pow(rt, 5/7)
      // as the mirrored multiplication chain, 10^(−A/10) as the shared
      // fixed-point integer exp (2^j·expNano(r) range reduction). Every
      // double op textually mirrors the Spark Column tree.
      val steps = graft.functions.FixedPointExp.expNanoDuckSteps("rr", "tx")
      val chain = Seq(
        "rt * rt" -> "rt2",
        "rt2 * rt2" -> "rt4",
        "rt4 * rt" -> "rt5",
        "(rt4 * rt2) * rt" -> "rt7",
        "fr * fr" -> "f2",
        ("(7.27 * rt / (f2 + 0.351 * rp * rp * rt * rt) + 7.5 / ((fr - 57.0) * (fr - 57.0)" +
          " + 2.44 * rp * rp * rt5)) * f2 * rp * rp * rt * rt * 1e-3") -> "go",
        ("(3.27e-2 * rt + 1.67e-3 * rho * rt7 / rp + 7.7e-4 * sqrt(fr)" +
          " + 3.79 / ((fr - 22.235) * (fr - 22.235) + 9.81 * rp * rp * rt)" +
          " + 11.73 * rt / ((fr - 183.31) * (fr - 183.31) + 11.85 * rp * rp * rt)" +
          " + 4.01 * rt / ((fr - 325.153) * (fr - 325.153) + 10.44 * rp * rp * rt))" +
          " * f2 * rho * rp * rt * 1e-4") -> "gw",
        "1.6 * (1.0 + 3.0 / ((fr - 22.2) * (fr - 22.2) + 5.0))" -> "hw",
        "(go * 6.0 + gw * hw) / sinel" -> "aa",
        "CAST(round(aa * 1e9) AS BIGINT)" -> "an",
        (s"CAST((CAST(an AS HUGEINT) * ${graft.functions.FixedPointExp.Ln10Nano})" +
          " // 10000000000 AS BIGINT)") -> "yn",
        s"yn // ${graft.functions.FixedPointLog.Ln2Nano}" -> "jj",
        s"yn - jj * ${graft.functions.FixedPointLog.Ln2Nano}" -> "rr") ++ steps ++ Seq(
        ("CASE WHEN jj > 60 THEN CAST(error('q_pipeline_atmosphere: 2^j overflow" +
          " (attenuation > 180 dB)') AS BIGINT)" +
          " ELSE CAST(1 AS BIGINT) << CAST(jj AS INT) END") -> "p2j",
        "CAST(round(DATA[chan + 1] * 100.0) AS BIGINT)" -> "dc",
        "(CAST(dc AS HUGEINT) * p2j) * tx_exp + 50000" -> "num")
      val ctes = chain.zipWithIndex.map { case ((e, a), i) =>
        s"g${i + 1} AS (SELECT *, $e AS $a FROM g$i)"
      }.mkString(",\n")
      s"""WITH v AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    [l_quantity, l_extendedprice, l_discount, l_tax] AS DATA,
        |    CAST(l_orderkey % 85 AS INT) AS e,
        |    CAST(l_quantity AS INT) AS q,
        |    CAST(900.0 AS DOUBLE) + (l_suppkey % 200) AS press,
        |    CAST(20.0 AS DOUBLE) + (l_partkey % 60) AS hum,
        |    l_quantity + CAST(273.15 AS DOUBLE) AS tempk
        |  FROM lineitem),
        |w AS (SELECT *, ((1.0007 + 3.46e-6) * 6.1121) * (${duckList(atmExpTable)})[q] AS es FROM v),
        |x AS (SELECT *, 216.7 * ((hum / 100.0) * es) / tempk AS rho,
        |    press / 1013.0 AS rp, 288.0 / tempk AS rt,
        |    (${duckList(atmSinTable)})[e + 1] AS sinel FROM w),
        |g0 AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, DATA, rho, rp, rt, sinel,
        |    CAST(t.i AS INT) AS chan,
        |    CASE t.i WHEN 0 THEN CAST(1.5 AS DOUBLE) WHEN 1 THEN CAST(1.25 AS DOUBLE)
        |             WHEN 2 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.75 AS DOUBLE) END AS fr
        |  FROM x, generate_series(0, 3) t(i)),
        |$ctes
        |SELECT l_orderkey, l_linenumber, chan,
        |  CASE WHEN num <= $AtmNumBound THEN CAST(num // 100000 AS BIGINT)
        |       ELSE CAST(error('q_pipeline_atmosphere: value_micro exceeds int64') AS BIGINT) END AS value_micro
        |FROM g${chain.size} ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, chan""".stripMargin
    },

    "q_c9_zgate" ->
      """WITH z AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    abs(l_quantity - l_extendedprice / CAST(1000.0 AS DOUBLE)) /
        |    sqrt((CAST(1.0 AS DOUBLE) + l_discount) * (CAST(1.0 AS DOUBLE) + l_discount) +
        |         (CAST(1.0 AS DOUBLE) + l_tax) * (CAST(1.0 AS DOUBLE) + l_tax)) AS z
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, z FROM z WHERE z >= 1.96
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "q_st1_calscan" ->
      """WITH c AS (SELECT CAST(l_orderkey % 4 AS VARCHAR) AS FILE_ID, count(*) AS n
        |  FROM lineitem GROUP BY 1)
        |SELECT FILE_ID, CAST(16 AS BIGINT) AS data_start, CAST(n - 16 AS BIGINT) AS post_cal_start,
        |  CAST(100 AS BIGINT) AS off_start
        |FROM c ORDER BY FILE_ID""".stripMargin,

    "q_pipeline_validate" ->
      """WITH obs AS (SELECT
        |    CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1 AS BIGINT) AS ROWIDX,
        |    l_quantity - 2.0 AS TSYS,
        |    [CASE WHEN l_linenumber = 3 THEN NULL ELSE l_discount END,
        |     l_extendedprice] AS DATA
        |  FROM lineitem),
        |f AS (SELECT ROWIDX, TSYS, DATA FROM obs WHERE TSYS IS NULL OR TSYS >= 0)
        |SELECT ROWIDX, TSYS, CAST(t.i AS INT) AS chan, DATA[t.i + 1] AS value
        |FROM f, generate_series(0, 1) t(i) ORDER BY ROWIDX, chan""".stripMargin,

    "q_pipeline_continuum" ->
      """WITH obs AS (SELECT
        |    row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1 AS ridx,
        |    count(*) OVER () AS n,
        |    l_quantity + l_extendedprice + l_discount + l_tax AS intensity
        |  FROM lineitem WHERE l_orderkey % 5 = 0)
        |SELECT CAST(ridx AS DOUBLE) AS t, intensity / CAST(6.0 AS DOUBLE) AS intensity
        |FROM obs WHERE ridx >= 16 AND ridx < n - 16
        |ORDER BY t""".stripMargin,

    "q_pipeline_full" ->
      """WITH obs AS (SELECT
        |    row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1 AS ridx,
        |    count(*) OVER () AS n,
        |    l_quantity + l_extendedprice + l_discount + l_tax AS intensity
        |  FROM lineitem WHERE l_orderkey % 5 = 0)
        |SELECT CAST(ridx AS DOUBLE) AS t, intensity / CAST(6.0 AS DOUBLE) AS intensity
        |FROM obs WHERE ridx >= 16 AND ridx < n - 16
        |ORDER BY t""".stripMargin,

    "q_continuum_all" ->
      """WITH obs AS (SELECT
        |    CAST(l_orderkey % 4 AS VARCHAR) AS FILE_ID,
        |    row_number() OVER (PARTITION BY l_orderkey % 4 ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1 AS ridx,
        |    count(*) OVER (PARTITION BY l_orderkey % 4) AS n,
        |    l_quantity + l_extendedprice + l_discount + l_tax AS intensity
        |  FROM lineitem)
        |SELECT FILE_ID, CAST(ridx AS DOUBLE) AS t, intensity / CAST(6.0 AS DOUBLE) AS intensity
        |FROM obs WHERE ridx >= 16 AND ridx < n - 16
        |ORDER BY FILE_ID, t""".stripMargin,

    "q_spectrum_all" ->
      """WITH obs AS (SELECT
        |    CAST(l_orderkey % 4 AS VARCHAR) AS FILE_ID,
        |    row_number() OVER (PARTITION BY l_orderkey % 4 ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1 AS pos,
        |    l_quantity AS q, CAST(l_linenumber AS DOUBLE) AS b,
        |    CAST(l_partkey % 7 AS DOUBLE) AS c, CAST(l_suppkey % 5 AS DOUBLE) AS d
        |  FROM lineitem),
        |agg AS (SELECT FILE_ID,
        |    CAST(sum(CASE WHEN pos < 100 THEN q ELSE 0 END) - sum(CASE WHEN pos >= 100 THEN q ELSE 0 END) AS DOUBLE) AS e0,
        |    CAST(sum(CASE WHEN pos < 100 THEN b ELSE 0 END) - sum(CASE WHEN pos >= 100 THEN b ELSE 0 END) AS DOUBLE) AS e1,
        |    CAST(sum(CASE WHEN pos < 100 THEN c ELSE 0 END) - sum(CASE WHEN pos >= 100 THEN c ELSE 0 END) AS DOUBLE) AS e2,
        |    CAST(sum(CASE WHEN pos < 100 THEN d ELSE 0 END) - sum(CASE WHEN pos >= 100 THEN d ELSE 0 END) AS DOUBLE) AS e3
        |  FROM obs GROUP BY FILE_ID)
        |SELECT FILE_ID, CAST(t.i AS INT) AS pos,
        |  CAST(1395.0 AS DOUBLE) - t.i * (CAST(1395.0 AS DOUBLE) - CAST(1315.0 AS DOUBLE)) / 3 AS frequency,
        |  CASE t.i WHEN 0 THEN e0 WHEN 1 THEN e1 WHEN 2 THEN e2 ELSE e3 END AS intensity
        |FROM agg, generate_series(0, 3) t(i) ORDER BY FILE_ID, pos""".stripMargin,

    "q_pipeline_spectrum" ->
      """WITH obs AS (SELECT
        |    row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1 AS pos,
        |    l_quantity AS q, CAST(l_linenumber AS DOUBLE) AS b,
        |    CAST(l_partkey % 7 AS DOUBLE) AS c, CAST(l_suppkey % 5 AS DOUBLE) AS d
        |  FROM lineitem),
        |agg AS (SELECT
        |    CAST(sum(CASE WHEN pos < 100 THEN q ELSE 0 END) - sum(CASE WHEN pos >= 100 THEN q ELSE 0 END) AS DOUBLE) AS e0,
        |    CAST(sum(CASE WHEN pos < 100 THEN b ELSE 0 END) - sum(CASE WHEN pos >= 100 THEN b ELSE 0 END) AS DOUBLE) AS e1,
        |    CAST(sum(CASE WHEN pos < 100 THEN c ELSE 0 END) - sum(CASE WHEN pos >= 100 THEN c ELSE 0 END) AS DOUBLE) AS e2,
        |    CAST(sum(CASE WHEN pos < 100 THEN d ELSE 0 END) - sum(CASE WHEN pos >= 100 THEN d ELSE 0 END) AS DOUBLE) AS e3
        |  FROM obs)
        |SELECT CAST(t.i AS INT) AS pos,
        |  CAST(1395.0 AS DOUBLE) - t.i * (CAST(1395.0 AS DOUBLE) - CAST(1315.0 AS DOUBLE)) / 3 AS frequency,
        |  CASE t.i WHEN 0 THEN e0 WHEN 1 THEN e1 WHEN 2 THEN e2 ELSE e3 END AS intensity
        |FROM agg, generate_series(0, 3) t(i) ORDER BY pos""".stripMargin
  )
}
