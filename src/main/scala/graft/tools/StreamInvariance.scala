package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamingCal.CalRow
import graft.streaming.StreamingFunnel.FunnelEvent
import graft.streaming.{StreamingCal, StreamingDedup, StreamingFunnel}

/** Micro-batch boundary invariance certificate for the streaming
  * operators (VERDICT r13 item 9) — the one certificate family the
  * batch-side partition-invariance dumps (INVARIANCE_r13) don't cover:
  * each streaming family runs the SAME ordered input stream under two
  * DIFFERENT micro-batch chunkings (7-row and 64-row batches — different
  * state-transition boundaries, different watermark advancement points)
  * and the canonicalized outputs must be identical. Where a clean batch
  * twin exists (windowed spectra, global dedup) the streaming output is
  * additionally compared against the batch computation over the same
  * rows.
  *
  * Inputs are ORDERED by event time/row index (the contract under which
  * micro-batch semantics are chunking-invariant: watermark-late drops and
  * state transitions are then decided identically under any chunking —
  * disordered input makes lateness a function of batch boundaries by
  * DESIGN, in every streaming engine).
  *
  * Prints one compact JSON line per run:
  *   {"families":{"cal_segments":{"rows":N,"diffs":0,...},...},"total_diffs":0}
  * Redirect to INVARIANCE_streaming_r{N}.json for the round artifact.
  *
  * Usage: tools/run_main.sh graft.tools.StreamInvariance
  */
object StreamInvariance {

  private val base = 1704067200000L // 2024-01-01T00:00:00Z

  private def feedAndDrain[T](input: MemoryStream[T], rows: Seq[T],
      chunk: Int, q: StreamingQuery): Unit = {
    rows.grouped(chunk).foreach { g =>
      input.addData(g)
      q.processAllAvailable()
    }
  }

  private def collectSorted(spark: SparkSession, table: String): Seq[String] =
    spark.table(table).collect()
      .map(r => r.toSeq.map {
        case t: java.sql.Timestamp => t.getTime.toString
        // collection.Seq, not the immutable default alias: Row array
        // columns come back as mutable.ArraySeq
        case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).toSeq.sorted

  /** One streaming run: build the pipeline over a MemoryStream, feed the
    * rows in `chunk`-sized micro-batches, return the canonicalized sink.
    */
  private def runStream[T: org.apache.spark.sql.Encoder](spark: SparkSession,
      rows: Seq[T], chunk: Int, name: String, mode: String = "append")(
      pipe: org.apache.spark.sql.Dataset[T] => DataFrame): Seq[String] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[T]
    val table = s"inv_${name}_$chunk"
    val q = pipe(input.toDS())
      .writeStream.format("memory").queryName(table).outputMode(mode).start()
    try feedAndDrain(input, rows, chunk, q) finally q.stop()
    val out = collectSorted(spark, table)
    spark.catalog.dropTempView(table)
    out
  }

  private def diffCount(a: Seq[String], b: Seq[String]): Int =
    ((a.diff(b)) ++ (b.diff(a))).size

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create()
    import spark.implicits._

    val chunks = Seq(7, 64)
    val results = scala.collection.mutable.LinkedHashMap[String, (Int, Int, Int)]()
    def record(name: String, runs: Seq[Seq[String]], batch: Option[Seq[String]]): Unit = {
      val d = diffCount(runs(0), runs(1))
      val bd = batch.map(b => diffCount(runs(0), b)).getOrElse(0)
      results(name) = (runs(0).size, d, bd)
      System.err.println(s"[stream-invariance] $name rows=${runs(0).size} " +
        s"chunk-diffs=$d batch-diffs=$bd")
    }

    // 1. cal_segments — the ST1-style diode-spike state machine: 5 files x
    // 120 ordered rows, spikes at rowIdx%10 in [0,3); runs split across
    // batch boundaries at every chunking.
    val calRows = for (f <- 0 until 5; i <- 0 until 120)
      yield CalRow(s"f$f", i.toLong, if (i % 10 < 3) 1 else 0, 1)
    record("cal_segments",
      chunks.map(c => runStream(spark, calRows, c, "cal")(ds =>
        StreamingCal.spikeSegments(ds).toDF())),
      None)

    // 2. windowed_spectra — watermarked vector-sum windows over monotone
    // timestamps plus one far-future flush row; batch twin = the same
    // windowed aggregation restricted to windows the final watermark
    // closed (append mode emits exactly those).
    val specRows = (0 until 300).map(i =>
      (new java.sql.Timestamp(base + i * 60000L),
        Seq((i % 7).toDouble, ((i * 3) % 11).toDouble))) :+
      (new java.sql.Timestamp(base + 600 * 60000L), Seq(0.0, 0.0))
    val specRuns = chunks.map(c => runStream(spark, specRows, c, "spec")(ds =>
      StreamingCal.windowedSpectra(ds.toDF("ts", "DATA"), "ts",
          "10 minutes", "5 minutes")
        .select(col("window.start").as("ws"), col("spectrum"))))
    val wmMillis = base + 600 * 60000L - 5 * 60000L
    val specBatch = specRows.toDF("ts", "DATA")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(graft.functions.VectorSum.vecSum(
        graft.functions.ArrayOps.fillNulls(col("DATA"))).as("spectrum"))
      .filter(col("window.end").cast("long") * 1000 <= wmMillis)
      .select(col("window.start").as("ws"), col("spectrum"))
      .collect().map(r => Seq(
        r.getTimestamp(0).getTime.toString,
        r.getSeq[Double](1).mkString("[", ",", "]")).mkString("|")).toSeq.sorted
    record("windowed_spectra", specRuns, Some(specBatch))

    // 3. sessions — watermarked session windows: 30 blocks of 10 events
    // (2-minute strides inside a block, user = block%3, 5-minute gap), so
    // per-user sessions are whole blocks; final flush row closes all but
    // the last sessions identically under any chunking.
    val sessRows = ((0 until 300).map { i =>
      (s"u${(i / 10) % 3}", new java.sql.Timestamp(base + (i * 2) * 60000L))
    } :+ (("uz", new java.sql.Timestamp(base + 2000 * 60000L))))
    record("sessions",
      chunks.map(c => runStream(spark, sessRows, c, "sess")(ds =>
        StreamingCal.sessionCounts(ds.toDF("user", "ts"), "user", "ts",
          gap = "5 minutes", watermark = "1 minute"))),
      None)

    // 4. dedup_global — unbounded-state exact dedup keeps the FIRST
    // occurrence in stream order; batch twin = min-doc_id row per content
    // hash (stream position == doc_id in this fixture).
    val dedupRows = (0 until 200).map(i => (i.toLong, s"document body ${i % 40}"))
    val dedupRuns = chunks.map(c => runStream(spark, dedupRows, c, "dedup")(ds =>
      StreamingDedup.exactDedupGlobal(ds.toDF("doc_id", "text"))))
    val dedupBatch = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("content_hash")).orderBy(col("doc_id"))
      dedupRows.toDF("doc_id", "text")
        .withColumn("content_hash", sha2(col("text"), 256))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .drop("__rn")
        .collect().map(r => r.toSeq.map(String.valueOf(_)).mkString("|"))
        .toSeq.sorted
    }
    record("dedup_global", dedupRuns, Some(dedupBatch))

    // 5. funnel — three-stage per-user state machine over ordered event
    // times: 40 users, a view/click/purchase triple each (some users
    // missing a stage), interleaved so chunk boundaries split triples.
    val funnelRows = (0 until 40).flatMap { u =>
      Seq("view", "click", "purchase").take(1 + (u % 3)).zipWithIndex
        .map { case (st, j) => FunnelEvent(u.toLong, st, j * 1000L + u) }
    }.sortBy(_.us)
    record("funnel",
      chunks.map(c => runStream(spark, funnelRows, c, "funnel")(ds =>
        StreamingFunnel.completions(ds).toDF())),
      None)

    // 6. tool_calls — the round-14 stateless function-calling gate as a
    // stream filter (codegen'd map, no state): planted parse failures,
    // missing keys and unknown tools split across batch boundaries; batch
    // twin = the identical gate over the same rows in one batch.
    val toolSchema = Map("search" -> Seq("query", "limit"), "calc" -> Seq("expr"))
    val toolRows = (0 until 200).map { i =>
      val tool = if (i % 13 == 0) "paint" else if (i % 2 == 0) "search" else "calc"
      val args =
        if (i % 11 == 0) s"""{"query":"w$i""""                 // truncated JSON
        else if (i % 7 == 0) """{"other":"x"}"""               // wrong keys
        else if (i % 2 == 0) s"""{"query":"w$i","limit":"10"}"""
        else """{"expr":"1+1"}"""
      (i.toLong, tool, args)
    }
    val toolPipe = (df: DataFrame) => graft.llm.Conversations
      .validateToolCalls(df, "id", "tool", "args", toolSchema)
    val toolRuns = chunks.map(c => runStream(spark, toolRows, c, "tool")(ds =>
      toolPipe(ds.toDF("id", "tool", "args"))))
    val toolBatch = toolPipe(toolRows.toDF("id", "tool", "args"))
      .collect().map(r => r.toSeq.map(String.valueOf(_)).mkString("|")).toSeq.sorted
    record("tool_calls", toolRuns, Some(toolBatch))

    // 7. markdown — the round-14 markdown-strip kernel as a stream map
    // (stateless codegen chain); batch twin over the same rows.
    val mdRows = (0 until 150).map(i => (i.toLong,
      s"# Title\n**body $i**\n```\ncode\n```\n[docs](http://x) ![l](i.png)\n> q\n---\n_em_"))
    val mdPipe = (df: DataFrame) => df.select(col("id"),
      graft.llm.TextAnalysis.markdownToText(col("text")).as("plain"))
    val mdRuns = chunks.map(c => runStream(spark, mdRows, c, "md")(ds =>
      mdPipe(ds.toDF("id", "text"))))
    val mdBatch = mdPipe(mdRows.toDF("id", "text"))
      .collect().map(r => r.toSeq.map(String.valueOf(_)).mkString("|")).toSeq.sorted
    record("markdown", mdRuns, Some(mdBatch))

    // 8. length_bias — the round-14 RLHF audit as a streaming GLOBAL
    // aggregation (complete mode: the sink holds the latest full
    // snapshot, so after draining, the report must equal the batch
    // aggregation regardless of how batches chunked the pairs).
    val lbRows = (0 until 240).map { i =>
      val chosen = ("w " * (3 + i % 9)).trim
      val rejected = ("w " * (2 + (i * 5) % 11)).trim
      (i.toLong, chosen, rejected)
    }
    val lbPipe = (df: DataFrame) =>
      graft.llm.Conversations.lengthBias(df, "chosen", "rejected")
    val lbRuns = chunks.map(c =>
      runStream(spark, lbRows, c, "lb", mode = "complete")(ds =>
        lbPipe(ds.toDF("id", "chosen", "rejected"))))
    val lbBatch = lbPipe(lbRows.toDF("id", "chosen", "rejected"))
      .collect().map(r => r.toSeq.map(String.valueOf(_)).mkString("|")).toSeq.sorted
    record("length_bias", lbRuns, Some(lbBatch))

    // 9. bestofn — the round-15 rejection-sampling selection as a
    // streaming GLOBAL aggregation (complete mode, the length_bias
    // pattern): min-struct argmax/argmin per prompt must converge to the
    // batch selection regardless of which micro-batch carried which
    // response; reward ties split across chunk boundaries are the
    // interesting case (the (reward, id) tie-break must not depend on
    // arrival batch).
    val bonRows = (0 until 240).map { i =>
      (s"p${i % 40}", i.toLong, (((i * 37) % 20) - 10).toLong * 1000000L)
    }
    val bonPipe = (df: DataFrame) =>
      graft.llm.Conversations.bestOfN(df, "prompt", "id", "reward_micro")
    val bonRuns = chunks.map(c =>
      runStream(spark, bonRows, c, "bon", mode = "complete")(ds =>
        bonPipe(ds.toDF("prompt", "id", "reward_micro"))))
    val bonBatch = bonPipe(bonRows.toDF("prompt", "id", "reward_micro"))
      .collect().map(r => r.toSeq.map(String.valueOf(_)).mkString("|")).toSeq.sorted
    record("bestofn", bonRuns, Some(bonBatch))

    // 10. sdfits_gate — the connector's pushed-predicate row gate vs
    // Spark's OWN filter semantics over the same rows: the stream side
    // runs the predicate through Spark's filter in chunked micro-batches;
    // the batch twin reads the same rows back through the SDFITS
    // connector with the predicate PUSHED (PushedFilters evaluates
    // SdfitsPushdown.cmp on raw row bytes). Any divergence between
    // Spark's comparison semantics and the pushdown's (the ADVICE-r15
    // string-collation class) shows up as batch_diffs.
    val gateRows = (0 until 180).map { i =>
      (1000L + i, i % 5, 40.0 + (i % 50),
        if (i % 3 == 0) "onoff:on" else if (i % 3 == 1) "onoff:off" else "track")
    }
    val gatePred = (df: DataFrame) =>
      df.filter(col("IFNUM") === 2 && col("ELEVATIO") >= 55.0 &&
          col("OBSMODE") >= "onoff:off" &&
          col("OBSMODE").isin("onoff:on", "onoff:off", "track"))
        .select(col("ROWIDX"), col("IFNUM"), col("ELEVATIO"), col("OBSMODE"))
    val gateRuns = chunks.map(c => runStream(spark, gateRows, c, "gate")(ds =>
      gatePred(ds.toDF("ROWIDX", "IFNUM", "ELEVATIO", "OBSMODE"))))
    val gateBatch = {
      val dir = java.nio.file.Files.createTempDirectory("graft-inv-sdfits").toFile
      val f = new java.io.File(dir, "gate.fits")
      val out = new java.io.FileOutputStream(f)
      try graft.sources.sdfits.SdfitsFormat.write(out,
        headerValues = Seq("OBSFREQ" -> "1400.0"),
        stringHeaderValues = Seq("DATE" -> "2024-01-01T00:00:00"),
        history = Seq.empty,
        cols = Seq(
          graft.sources.sdfits.SdfitsFormat.ColSpec("ROWIDX", 1, 'K'),
          graft.sources.sdfits.SdfitsFormat.ColSpec("IFNUM", 1, 'J'),
          graft.sources.sdfits.SdfitsFormat.ColSpec("ELEVATIO", 1, 'D'),
          graft.sources.sdfits.SdfitsFormat.ColSpec("OBSMODE", 12, 'A')),
        rows = gateRows.iterator.map { case (k, ifn, el, om) =>
          Seq[Any](k, ifn, el, om) },
        nRows = gateRows.size)
      finally out.close()
      val read = gatePred(spark.read.format("sdfits").load(f.getPath))
      val plan = read.queryExecution.executedPlan.toString
      require(plan.contains("PushedFilters"),
        s"sdfits_gate twin did not push its predicate:\n$plan")
      read.collect()
        .map(r => r.toSeq.map(String.valueOf(_)).mkString("|")).toSeq.sorted
    }
    record("sdfits_gate", gateRuns, Some(gateBatch))

    // 11. rloo — the r16 leave-one-out advantage operator (VERDICT r16
    // item 3): the streaming form carries each prompt's response set
    // through the complete-mode aggregation (collect_list) and explodes
    // it back, so every advantage is a pure function of the prompt's
    // final (N, Σr, r_i) — arrival chunking must not matter, and the
    // batch twin is the aggregation+join-back operator itself. Includes
    // a single-response prompt (null advantage, has_baseline=false) and
    // negative rewards.
    val rlooRows = (0 until 240).map { i =>
      (s"p${i % 40}", i.toLong, (((i * 37) % 20) - 10).toLong * 1000000L)
    } :+ (("solo", 9999L, 5000000L))
    val rlooRuns = chunks.map(c =>
      runStream(spark, rlooRows, c, "rloo", mode = "complete")(ds =>
        graft.streaming.StreamingRloo.advantages(
          ds.toDF("prompt", "id", "reward_micro"))))
    val rlooBatch = graft.llm.Conversations.rlooAdvantages(
        rlooRows.toDF("prompt", "id", "reward_micro"),
        "prompt", "id", "reward_micro")
      .collect().map(r => r.toSeq.map(String.valueOf(_)).mkString("|")).toSeq.sorted
    record("rloo", rlooRuns, Some(rlooBatch))

    val total = results.values.map(v => v._2 + v._3).sum
    val fams = results.map { case (n, (rows, d, bd)) =>
      s""""$n":{"rows":$rows,"chunk_diffs":$d,"batch_diffs":$bd}"""
    }.mkString("{", ",", "}")
    println(s"""{"chunks":[7,64],"families":$fams,"total_diffs":$total}""")
    spark.stop()
    if (total != 0) sys.exit(1)
  }
}
