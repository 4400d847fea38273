package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.pipeline.{Pipeline, Validate}
import graft.sources.sdfits.{Sdfits, SdfitsWriter}

/** One unit of checked work inside a pass: one file's products or one
  * registry query. `ms` is its latency; `error` is set when it threw or its
  * output failed the check.
  */
final case class Op(name: String, ms: Double, error: Option[String])

/** A benchmark workload: how to build its inputs, run one pass over them,
  * and (traced runs only) measure the layers the pass does not isolate.
  * Passes run on the single driver thread, one operation after another.
  */
trait Workload {
  def name: String
  /** DATA cells (rows x channels) one pass reduces; 0 when not a radio workload. */
  def cellsPerPass: Double
  /** Operations in one pass (the `obs_p50_ms` and `spark.jobs_per_obs` unit). */
  def opsPerPass: Int
  /** Untimed passes after the set-up, before the timed window: this
    * program compiles new Janino classes on every pass, and pass times keep
    * falling for several passes while the JIT catches up. Without these the
    * timed median depends on how far each JVM got.
    */
  def burnInSeconds: Int
  def prepare(spark: SparkSession, dir: String): Unit
  def pass(spark: SparkSession, dir: String, tr: Tracer, passNo: Int): Seq[Op]
  /** Extra traced measurements, run outside every timed pass. */
  def probes(spark: SparkSession, dir: String, tr: Tracer): Unit = ()
  /** Checks run once, after the timed passes. */
  def finalChecks(spark: SparkSession, dir: String, outDir: String): Seq[Op] = Nil
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }

  /** Runs `body` as one operation: its latency, and any failure as an error. */
  def op(name: String)(body: => Option[String]): Op = {
    val t0 = System.nanoTime()
    val err =
      try body
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    Op(name, (System.nanoTime() - t0) / 1e6, err)
  }
}

/** The paper's product at volume: a directory of SDFITS files read through
  * the connector and reduced by `Pipeline.runAll` (atmosphere off, as in
  * the reference driver), both products collected and checked per file.
  */
final class RadioBulk(fx: RadioFixture) extends Workload {
  import Workload._
  val name = "radio_bulk"
  def cellsPerPass: Double = fx.cells.toDouble
  def opsPerPass: Int = fx.files
  def burnInSeconds: Int = 6

  def prepare(spark: SparkSession, dir: String): Unit = fx.write(spark, dir)

  private def header(dir: String) = Sdfits.readHeader(s"$dir/obs_${fx.fileId(0)}.fits")

  private var lastCont: Array[Row] = Array.empty
  private var lastSpec: Array[Row] = Array.empty

  def pass(spark: SparkSession, dir: String, tr: Tracer, passNo: Int): Seq[Op] = {
    tr.op = s"pass$passNo"
    var cont: Array[Row] = Array.empty
    var spec: Array[Row] = Array.empty
    val (_, ms) = timed {
      tr("pass") {
        val h = tr("sdfits.header")(header(dir))
        val df = tr("sdfits.read")(spark.read.format("sdfits").load(dir))
        tr("pipeline.runall") {
          // Pipeline.runAll runs the continuum checkpoints eagerly; the
          // spectrum plan stays lazy until it is collected.
          val res = tr("continuum") {
            val r = Pipeline.runAll(df, h, ifnum = 0, plnum = 1)
            cont = r.continuum.collect()
            r
          }
          spec = tr("spectrum")(res.spectrum.collect())
        }
      }
    }
    lastCont = cont
    lastSpec = spec
    // The pass is one timed unit; each file's products are checked apart.
    val byFileC = cont.groupBy(_.getString(0))
    val byFileS = spec.groupBy(_.getString(0))
    (0 until fx.files).map { f =>
      val id = fx.fileId(f)
      val c = byFileC.getOrElse(id, Array.empty[Row]).sortBy(_.getDouble(1))
      val s = byFileS.getOrElse(id, Array.empty[Row]).sortBy(_.getInt(1))
      Op(id, ms / fx.files, fx.check(f, c.map(r => (r.getDouble(1), r.getDouble(2))), s.map(_.getDouble(3))))
    }
  }

  override def probes(spark: SparkSession, dir: String, tr: Tracer): Unit = {
    val h = header(dir)
    tr("sdfits.scan")(spark.read.format("sdfits").load(dir).queryExecution.toRdd.foreach(_ => ()))
    tr("validate")(Validate.run(spark.read.format("sdfits").load(dir), h)
      .queryExecution.toRdd.foreach(_ => ()))
    // The reference's staged write of one validated observation.
    val one = spark.read.format("sdfits").load(dir).filter(col("FILE_ID") === fx.fileId(0))
    tr("sdfits.write")(SdfitsWriter.writeStaged(Validate.run(one, h), Seq("ROWIDX"),
      s"${dir}_probe/obs_${fx.fileId(0)}.fits", "validated", fx.header))
  }

  /** The last pass's `runAll` products against the single-file `run` on
    * one seed-chosen file, value for value.
    */
  override def finalChecks(spark: SparkSession, dir: String, outDir: String): Seq[Op] = {
    val id = fx.fileId(math.floorMod(fx.seed, fx.files.toLong).toInt)
    Seq(op(s"runall_vs_run:$id") {
      val df = spark.read.format("sdfits").load(dir)
      val one = Pipeline.run(df.filter(col("FILE_ID") === id), header(dir), 0, 1)
      val allC = lastCont.filter(_.getString(0) == id).map(r => (r.getDouble(1), r.getDouble(2)))
      val oneC = one.continuum.collect().map(r => (r.getDouble(0), r.getDouble(1)))
      val allS = lastSpec.filter(_.getString(0) == id)
        .map(r => (r.getInt(1), r.getDouble(2), r.getDouble(3)))
      val oneS = one.spectrum.collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      if (allC.isEmpty || !allC.sameElements(oneC)) Some(s"$id: runAll continuum differs from run")
      else if (!allS.sameElements(oneS)) Some(s"$id: runAll spectrum differs from run")
      else None
    })
  }
}

/** The curation operators the radio workloads never reach, through the
  * registry: each query's output is collected, hashed in row order, and
  * must hash the same on every pass; the first output of each query is
  * written out for the DuckDB oracle cross-check.
  */
final class Curation(corpus: Corpus) extends Workload {
  import Workload._
  val name = "curation_heavy"
  /** The registry queries in a seed-chosen order. */
  val queries: Seq[String] = Curation.Queries.sortBy(q => Mix(corpus.seed, 14, q.hashCode.toLong))
  def cellsPerPass: Double = 0.0
  def opsPerPass: Int = queries.size
  def burnInSeconds: Int = 4
  private lazy val registry = SparkEntry.queries
  private val firstOutput = scala.collection.mutable.LinkedHashMap[String, (Array[Row], StructType, String)]()

  def prepare(spark: SparkSession, dir: String): Unit = {
    corpus.write(spark, dir)
    firstOutput.clear()
  }

  def pass(spark: SparkSession, dir: String, tr: Tracer, passNo: Int): Seq[Op] =
    tr("pass") {
      queries.map { q =>
        tr.op = s"pass$passNo/$q"
        var err: Option[String] = None
        val (_, ms) = timed {
          try {
            val (rows, schema) = tr(q) {
              val df = registry(q)(spark, dir)
              (df.collect(), df.schema)
            }
            val h = Curation.rowHash(rows)
            firstOutput.get(q) match {
              case None => firstOutput(q) = (rows, schema, h)
              case Some((_, _, h0)) if h0 != h =>
                err = Some(s"$q: output hash $h differs from the first pass's $h0")
              case _ => ()
            }
          } catch { case e: Throwable => err = Some(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}") }
        }
        Op(q, ms, err)
      }
    }

  /** Writes each query's first output and its oracle SQL for the DuckDB check. */
  override def finalChecks(spark: SparkSession, dir: String, outDir: String): Seq[Op] = {
    val oracle = SparkEntry.oracleSql
    val sql = firstOutput.keys.toSeq.sorted.map { q =>
      spark.createDataFrame(java.util.Arrays.asList(firstOutput(q)._1: _*), firstOutput(q)._2)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
      q -> oracle.getOrElse(q, "")
    }
    Json.writeFile(s"$outDir/oracle_sql.json", sql.toMap)
    Nil
  }
}

object Curation {
  /** One query per `graft.llm` operator family:
    *  - `q_dedup_components_star` (Dedup): poly-MinHash LSH candidates, then
    *    large-star/small-star convergence rounds, each a checkpoint plus
    *    change-detection actions;
    *  - `q_sim_hnsw` (GraphAnn): beam search over the NN-Descent k-NN graph,
    *    which the program builds once per JVM (in the warm-up pass);
    *  - `q_link_hits` (LinkGraph): host-graph extraction and HITS rounds;
    *  - `q_semdedup` (SemDedup): k-means cells, then in-cell cosine pruning;
    *  - `q_text_bpe_incr` (Bpe): the two BPE trainers on the corpus text.
    */
  val Queries: Seq[String] =
    Seq("q_dedup_components_star", "q_sim_hnsw", "q_link_hits", "q_semdedup", "q_text_bpe_incr")

  /** SHA-256 over the rows' string forms, in output order. */
  def rowHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
