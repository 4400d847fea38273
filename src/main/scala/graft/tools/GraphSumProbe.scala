package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.{GraphAnn, Similarity}

/** Bit-exactness probe for the GraphAnn family: prints xxhash64 checksums
  * of (a) the full kNN-graph build, (b) the 90%-base build, (c) the
  * warm-start updateKnnGraph merge, and (d) a batched beam search — the
  * before/after pair of these lines across a kernel/plan change proves the
  * change is result-identical (same edges, same cosine BITS, same search
  * ranking), independent of the DuckDB oracle.
  *
  * Usage: tools/run_main.sh graft.tools.GraphSumProbe [sfDir]
  */
object GraphSumProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.create()
    // Shuffle-byte accounting per phase: wall-clock on a loaded host swings
    // up to 2.5x between identical runs, but bytes written to shuffle are a
    // deterministic property of the plan (guide §2 — the thing the fused
    // scoring is supposed to cut). Summed from stage completions.
    val shufWrite = new java.util.concurrent.atomic.AtomicLong()
    val shufRead = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shufWrite.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
      }
    })
    def phaseBytes(): String = {
      // stage-completion events ride the async bus — settle before reading
      graft.GraftSession.drain(spark)
      val s = s"shufWriteMB=${shufWrite.get / 1048576} shufReadMB=${shufRead.get / 1048576}"
      shufWrite.set(0L); shufRead.set(0L)
      s
    }

    def sumOf(g: DataFrame, cols: Seq[String]): String = {
      val r = g.agg(
        sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")).as("h"),
        count(lit(1)).as("n")).collect()(0)
      s"n=${r.getLong(1)} sum=${r.getDecimal(0)}"
    }

    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).localCheckpoint()

    val t0 = System.nanoTime()
    val g2 = GraphAnn.buildKnnGraph(e, k = 12, rounds = 2).localCheckpoint()
    val tBuild = (System.nanoTime() - t0) / 1e9
    println(s"[graphsum] build k12 r2: ${sumOf(g2, Seq("src", "dst", "cosine"))} sec=${f"$tBuild%.2f"} ${phaseBytes()}")

    val base = e.filter(col("vec_id") % 10 =!= 0)
    val delta = e.filter(col("vec_id") % 10 === 0)
    val t1 = System.nanoTime()
    val g1 = GraphAnn.buildKnnGraph(base, k = 12, rounds = 1).localCheckpoint()
    val tBase = (System.nanoTime() - t1) / 1e9
    println(s"[graphsum] build90 k12 r1: ${sumOf(g1, Seq("src", "dst", "cosine"))} sec=${f"$tBase%.2f"} ${phaseBytes()}")

    val t2 = System.nanoTime()
    val merged = GraphAnn.updateKnnGraph(g1, base, delta, k = 12, rounds = 1)
      .localCheckpoint()
    val tUpd = (System.nanoTime() - t2) / 1e9
    println(s"[graphsum] update: ${sumOf(merged, Seq("src", "dst", "cosine"))} sec=${f"$tUpd%.2f"} ${phaseBytes()}")

    val qs = Similarity.perturbedQueries(e, n = 10)
    val t3 = System.nanoTime()
    val hits = GraphAnn.searchMulti(g2, e, qs, k = 10, beam = 48, hops = 3, entryK = 8)
    println(s"[graphsum] search: ${sumOf(hits, Seq("qid", "vec_id", "cosine", "rank"))} sec=${f"${(System.nanoTime() - t3) / 1e9}%.2f"} ${phaseBytes()}")
    spark.stop()
  }
}
