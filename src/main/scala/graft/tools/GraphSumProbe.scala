package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryProfile
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
    try run(spark, sfDir) finally spark.stop()
  }

  /** Prints one `[graphsum] <phase>: n=<rows> sum=<checksum> sec=<s>
    * shufWriteBytes=<n> shufReadBytes=<n>` line per phase. Each phase's
    * seconds and shuffle bytes cover its own materialisation (a
    * `localCheckpoint`) and not its checksum. Shuffle bytes are the
    * deterministic number: wall-clock on a loaded host swings up to 2.5x
    * between identical runs, while bytes written to shuffle are a property
    * of the plan.
    */
  def run(spark: SparkSession, sfDir: String): Unit = {
    def sumOf(g: DataFrame, cols: Seq[String]): String = {
      val r = g.agg(
        sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")).as("h"),
        count(lit(1)).as("n")).collect()(0)
      s"n=${r.getLong(1)} sum=${r.getDecimal(0)}"
    }
    def phase(label: String, cols: String*)(build: => DataFrame): DataFrame = {
      val ((g, sec), p) = QueryProfile.record(spark) {
        val t0 = System.nanoTime()
        val g = build.localCheckpoint()
        (g, (System.nanoTime() - t0) / 1e9)
      }
      println(s"[graphsum] $label: ${sumOf(g, cols)} sec=${f"$sec%.2f"} " +
        s"shufWriteBytes=${p.shuffleWrite} shufReadBytes=${p.shuffleRead}")
      g
    }

    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val edges = Seq("src", "dst", "cosine")
    val g2 = phase("build k12 r2", edges: _*)(GraphAnn.buildKnnGraph(e, k = 12, rounds = 2))
    val base = e.filter(col("vec_id") % 10 =!= 0)
    val delta = e.filter(col("vec_id") % 10 === 0)
    val g1 = phase("build90 k12 r1", edges: _*)(GraphAnn.buildKnnGraph(base, k = 12, rounds = 1))
    phase("update", edges: _*)(GraphAnn.updateKnnGraph(g1, base, delta, k = 12, rounds = 1))
    val qs = Similarity.perturbedQueries(e, n = 10)
    phase("search", "qid", "vec_id", "cosine", "rank")(
      GraphAnn.searchMulti(g2, e, qs, k = 10, beam = 48, hops = 3, entryK = 8))
  }
}
