package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.PcaKernels

/** PCA dimensionality reduction for embedding columns — the standard
  * pre-ANN compression step at corpus scale: project 64-dim (or 768-dim)
  * embeddings onto their top principal components before IVF/LSH
  * bucketing, shrinking both the stored index and every distance
  * computation, at a measured recall cost.
  *
  * Spark shape:
  *   - [[fit]] is ONE aggregation: a typed `Aggregator` accumulates the
  *     count, the coordinate sums, and the upper-triangular second-moment
  *     matrix in a single compiled pass (the [[graft.functions.VectorSumAggregate]]
  *     discipline — map-side partials, the shuffle carries one
  *     O(d²)-buffer per partition, never the corpus). At d = 64 the
  *     buffer is 2 KB; at d = 768 it is ~2.4 MB — still per-partition
  *     constant, far under shuffle budgets;
  *   - the d×d eigenproblem solves DRIVER-SIDE with a deterministic
  *     cyclic Jacobi (d ≤ a few thousand is microseconds-to-seconds of
  *     dense linear algebra — the classic "aggregate the sufficient
  *     statistic, solve small, broadcast the model" pattern);
  *   - [[transform]] is a pure map through a codegen'd kernel
  *     ([[graft.functions.PcaKernels]]) — the matrix rides as a reference
  *     object, no UDF boundary, no shuffle.
  *
  * Determinism: the Jacobi sweep order is fixed; eigenpairs sort by
  * (eigenvalue DESC, original index ASC) and each component's sign is
  * normalized so its largest-magnitude coordinate is positive.
  */
object EmbeddingPca {

  /** Trained model: `mean` (d), `components` (dims × d, orthonormal rows,
    * leading first), `variances` (the matching eigenvalues).
    */
  final case class Model(
      mean: Seq[Double],
      components: Seq[Seq[Double]],
      variances: Seq[Double])

  /** Buffer layout: [n, sum(d), upper-tri moments (d(d+1)/2)]. */
  private final class MomentAgg(d: Int)
      extends Aggregator[Seq[Float], Array[Double], Seq[Double]] {
    private val len = 1 + d + d * (d + 1) / 2
    override def zero: Array[Double] = new Array[Double](len)
    override def reduce(acc: Array[Double], row: Seq[Float]): Array[Double] = {
      if (row == null) return acc
      require(row.length == d, s"pca: embedding dim ${row.length} != $d")
      val x = new Array[Double](d)
      var i = 0
      val it = row.iterator
      while (it.hasNext) { x(i) = it.next().toDouble; i += 1 }
      acc(0) += 1.0
      i = 0
      while (i < d) { acc(1 + i) += x(i); i += 1 }
      var k = 1 + d
      i = 0
      while (i < d) {
        var j = i
        while (j < d) { acc(k) += x(i) * x(j); j += 1; k += 1 }
        i += 1
      }
      acc
    }
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < len) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(acc: Array[Double]): Seq[Double] = acc.toSeq
    override def bufferEncoder: Encoder[Array[Double]] =
      ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Seq[Double]] =
      ExpressionEncoder[Seq[Double]]()
  }

  /** Deterministic cyclic Jacobi on a symmetric matrix (in-place copies).
    * Returns (eigenvalues, eigenvectors as rows).
    */
  private[llm] def jacobi(sym: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = sym.length
    val a = Array.tabulate(d, d)((i, j) => sym(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    val tol = {
      var tr = 0.0
      var i = 0
      while (i < d) { tr += math.abs(a(i)(i)); i += 1 }
      math.max(tr, 1e-300) * 1e-14
    }
    while (sweep < 64 && off > tol) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 0.0) {
            off += math.abs(apq)
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
              case s   => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(p)(i); val viq = v(q)(i)
              v(p)(i) = c * vip - s * viq
              v(q)(i) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Fit a PCA model: one moment aggregation, a driver-side Jacobi solve,
    * top-`dims` components by variance.
    */
  def fit(df: DataFrame, dims: Int, embCol: String = "embedding"): Model = {
    require(dims >= 1, s"dims must be >= 1: $dims")
    val spark = df.sparkSession
    import spark.implicits._
    val d = df.select(size(col(embCol))).as[Int].head()
    require(dims <= d, s"dims ($dims) must be <= embedding dim ($d)")
    val agg = udaf(new MomentAgg(d), ExpressionEncoder[Seq[Float]]())
    val m = df.select(agg(col(embCol).cast("array<float>")).as("m"))
      .as[Seq[Double]].head().toArray
    val n = m(0)
    require(n >= 2.0, s"pca needs at least 2 rows, got ${n.toLong}")
    val mean = Array.tabulate(d)(i => m(1 + i) / n)
    val cov = Array.ofDim[Double](d, d)
    var k = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = m(k) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; k += 1
      }
      i += 1
    }
    val (evals, evecs) = jacobi(cov)
    val order = (0 until d).sortBy(i => (-evals(i), i))
    val top = order.take(dims)
    val comps = top.map { idx =>
      val row = evecs(idx)
      // sign convention: largest-|coordinate| positive (first on ties)
      var best = 0
      var j = 1
      while (j < d) { if (math.abs(row(j)) > math.abs(row(best))) best = j; j += 1 }
      val sgn = if (row(best) < 0) -1.0 else 1.0
      row.map(_ * sgn).toSeq
    }
    Model(mean.toSeq, comps, top.map(evals(_)))
  }

  /** Project an embedding column through a fitted model — codegen'd pure
    * map, no shuffle.
    */
  def transform(emb: Column, model: Model): Column =
    PcaKernels.pcaProject(emb, model.mean, model.components)

  /** Multi-query ANN through the compressed space — the production
    * coarse-then-rerank shape: shortlist candidates by PROJECTED cosine
    * (dims-dimensional arithmetic per comparison instead of d), then
    * re-rank the shortlist by EXACT cosine on the original embeddings.
    * Queries broadcast as a dim table (the [[Similarity.pqTopKMulti]]
    * discipline); output (qid, vec_id, cosine, rank ≤ k).
    *
    * Recall economics: the shortlist bounds the exact-distance work to
    * shortlist × |queries| rows while the corpus-wide scan pays only the
    * reduced dimension; `q_sim_pca_recall` certifies the planted-neighbor
    * contract, and the spec-measured tradeoff on isotropic (worst-case)
    * vectors is ~0.99 recall@10 at dims 32 with a shortlist of ~8% of the
    * corpus.
    */
  def topKMulti(
      corpus: DataFrame,
      queries: Seq[(Long, Array[Double])],
      model: Model,
      k: Int,
      shortlist: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(k >= 1 && shortlist >= k, s"need shortlist ($shortlist) >= k ($k) >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val d = model.mean.length
    // project the queries driver-side (|queries| × dims·d flops)
    val qrows = queries.map { case (qid, q) =>
      require(q.length == d, s"query dim ${q.length} != model dim $d")
      val centered = Array.tabulate(d)(i => q(i) - model.mean(i))
      val proj = model.components.map { w =>
        var s = 0.0
        var i = 0
        while (i < d) { s += w(i) * centered(i); i += 1 }
        s.toFloat
      }.toArray
      (qid, proj.toSeq, q.toSeq)
    }
    val qframe = broadcast(qrows.toDF("qid", "qproj", "qemb"))
    val wShort = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("__pcos").desc, col(idCol))
    val wFinal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col(idCol))
    corpus
      .select(col(idCol), col(embCol),
        transform(col(embCol), model).as("__p"))
      .crossJoin(qframe)
      .withColumn("__pcos", graft.functions.ArrayOps.cosine(col("__p"), col("qproj")))
      .withColumn("__r", row_number().over(wShort))
      .filter(col("__r") <= shortlist)
      .withColumn("cosine",
        graft.functions.ArrayOps.cosine(col(embCol), col("qemb")))
      .withColumn("rank", row_number().over(wFinal))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idCol), col("cosine"), col("rank"))
  }

  /** Persist a model as a tiny parquet (component rank, vector, variance,
    * with the mean at rank -1).
    */
  def save(spark: SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    val rows = (-1, model.mean, 0.0) +:
      model.components.zipWithIndex.map { case (c, i) =>
        (i, c, model.variances(i))
      }
    rows.toDF("rank", "vec", "variance")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Load a model saved by [[save]]. */
  def load(spark: SparkSession, path: String): Model = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .orderBy(col("rank"))
      .select(col("rank"), col("vec"), col("variance"))
      .as[(Int, Seq[Double], Double)].collect()
    val mean = rows.find(_._1 == -1).map(_._2)
      .getOrElse(throw new IllegalStateException(s"pca model at $path has no mean row"))
    val comps = rows.filter(_._1 >= 0).sortBy(_._1)
    Model(mean, comps.map(_._2).toSeq, comps.map(_._3).toSeq)
  }
}
