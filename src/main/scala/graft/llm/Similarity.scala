package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import graft.functions.ArrayOps

/** One (id, score) candidate. */
final case class Scored(id: Long, score: Double)

/** Bounded top-k by (score desc, id asc) as a typed Aggregator: the buffer
  * never exceeds k entries, partial aggregation runs map-side, and the
  * shuffle carries at most k rows per (group × partition). The
  * `row_number over (partition by qid)` alternative funnels every candidate
  * of a query through ONE partition — at corpus scale that is a multi-GB
  * single-task sort; this aggregator keeps per-query top-k fully parallel.
  */
final class TopKByScoreAgg(k: Int) extends Aggregator[(Long, Double), Seq[Scored], Seq[Scored]] {
  override def zero: Seq[Scored] = Vector.empty

  private def insert(buf: Seq[Scored], id: Long, score: Double): Seq[Scored] = {
    if (buf.length >= k) {
      val worst = buf.last
      if (score < worst.score || (score == worst.score && id > worst.id)) return buf
    }
    ((buf :+ Scored(id, score)).sortBy(s => (-s.score, s.id))).take(k)
  }

  override def reduce(b: Seq[Scored], in: (Long, Double)): Seq[Scored] = insert(b, in._1, in._2)
  override def merge(a: Seq[Scored], b: Seq[Scored]): Seq[Scored] =
    b.foldLeft(a)((acc, s) => insert(acc, s.id, s.score))
  override def finish(b: Seq[Scored]): Seq[Scored] = b
  override def bufferEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
  override def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
}

/** Similarity search over an embedding column (`Array[Float]`): brute-force
  * cosine top-k as the correctness baseline, random-hyperplane LSH bucketing
  * as the scale path (candidates come from a groupBy/join on the bucket key —
  * no cartesian product).
  */
object Similarity {

  /** Cosine of each row's embedding against one literal query vector —
    * a broadcast-free map-only scan (the literal folds into codegen).
    */
  def cosineToQuery(emb: Column, query: Array[Double]): Column = {
    val q = array(query.map(lit(_)).toIndexedSeq: _*)
    ArrayOps.cosine(emb, q)
  }

  /** Brute-force top-k by cosine: one scan + a global top-k (Spark's
    * `orderBy.limit` runs per-partition top-k then merges k·p rows on the
    * driver — no full sort shuffle). O(n·d) work: the right baseline, and
    * the exact answer LSH variants are measured against.
    */
  def bruteForceTopK(
      df: DataFrame,
      query: Array[Double],
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    df.select(col(idCol), cosineToQuery(col(embCol), query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)

  /** Label-blocked all-pairs exact cosine — the oracle-checkable face of
    * the cosine kernel over arbitrary vector pairs. Pair volume grows
    * QUADRATICALLY with block size, so this is a certification BASELINE
    * for the ANN family (IVF / PQ / LSH buckets in this file), never the
    * corpus-scale path itself. The `maxInputRows` guard makes that a
    * construction property, not a convention (PLANS-33 bounded-batch
    * discipline): one cheap count job up front, and a corpus-sized
    * invocation fails loudly instead of planning a cartesian death.
    */
  def exactPairsWithinLabel(
      df: DataFrame,
      minCosine: Double,
      maxInputRows: Long,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val n = df.count()
    require(n <= maxInputRows,
      s"exactPairsWithinLabel refused: $n input rows > cap $maxInputRows. " +
        "All-pairs exact cosine is O(n²) per label block and exists as an " +
        "oracle baseline; at corpus scale use the ANN family " +
        "(annTopKBucketed / ivfTopK / pqTopK).")
    val e = df.select(col(idCol), col(embCol), col(labelCol))
    val a = e.alias("a"); val b = e.alias("b")
    a.join(b, col(s"a.$labelCol") === col(s"b.$labelCol") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        ArrayOps.cosine(col(s"a.$embCol"), col(s"b.$embCol")).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Embedding isotropy report — the corpus-level diagnostic behind ANN
    * quality: anisotropic embeddings (a large common mean component)
    * concentrate cosine mass, breed hub vectors and wreck recall
    * (Ethayarajh 2019); check BEFORE building the index, not after it
    * underperforms. Everything is exact integers after a per-coordinate
    * micro lift (round(x·10⁶) — the shared-double discipline): per-dim
    * sums → mean vector; per-row Σm² → average squared norm (summed in
    * DECIMAL(38,0) — row norms reach ~10¹⁴ and 10⁶ rows overflow a
    * long); anisotropy = ‖mean‖²·10⁶ div avg‖v‖², micro-fraction of
    * vector mass living in the common direction (0 = centered).
    * Per-dim means use round(double-division) — truncating `div` floors
    * differently across engines on NEGATIVE sums, and embedding sums go
    * negative. Output one row: (n, avg_norm2_micro2, mean_norm2_micro2,
    * anisotropy_micro).
    */
  def isotropyReport(df: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val m = df
      .select(col(idCol), posexplode(col(embCol)).as(Seq("d", "x")))
      .select(col(idCol), col("d"),
        round(col("x").cast("double") * 1e6).cast("long").as("m"))
    val perDim = m.groupBy(col("d"))
      .agg(sum(col("m")).as("s"), count(lit(1)).as("nd"))
      .select(expr("CAST(round(CAST(s AS DOUBLE) / nd) AS BIGINT)").as("md"),
        col("nd"))
    val meanSide = perDim.agg(sum(expr("md * md")).as("mean_norm2_micro2"),
      max(col("nd")).as("n"))
    val rowSide = m.groupBy(col(idCol)).agg(sum(expr("m * m")).as("r2"))
      .agg(expr("CAST(sum(CAST(r2 AS DECIMAL(38,0))) div count(1) AS BIGINT)")
        .as("avg_norm2_micro2"))
    meanSide.crossJoin(broadcast(rowSide))
      .select(col("n"), col("avg_norm2_micro2"), col("mean_norm2_micro2"),
        expr("CAST(CAST(mean_norm2_micro2 AS DECIMAL(38,0)) * 1000000 div avg_norm2_micro2 AS BIGINT)")
          .as("anisotropy_micro"))
  }

  /** The "all-but-the-top" fix for what [[isotropyReport]] diagnoses
    * (Mu & Viswanath, ICLR 2018, step 1): subtract the corpus mean from
    * every vector and report the CENTERED corpus' isotropy — anisotropy
    * collapses to ~0 (exact up to the ±1-µ per-dim rounding residue of
    * the integer means, which the report states rather than hides). The
    * centered representation stays in the exploded integer-micro form
    * (id, dim, value) — the mean is a 64-row broadcast, the subtraction a
    * map, and downstream cosine machinery can consume either form.
    */
  def centeredIsotropy(df: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val m = df
      .select(col(idCol), posexplode(col(embCol)).as(Seq("d", "x")))
      .select(col(idCol), col("d"),
        round(col("x").cast("double") * 1e6).cast("long").as("m"))
    val means = m.groupBy(col("d"))
      .agg(expr("CAST(round(CAST(sum(m) AS DOUBLE) / count(1)) AS BIGINT)").as("md"))
    val centered = m.join(broadcast(means), "d")
      .select(col(idCol), col("d"), (col("m") - col("md")).as("cm"))
    val perDim = centered.groupBy(col("d"))
      .agg(expr("CAST(round(CAST(sum(cm) AS DOUBLE) / count(1)) AS BIGINT)").as("cmd"),
        count(lit(1)).as("nd"))
    val meanSide = perDim.agg(sum(expr("cmd * cmd")).as("mean_norm2_micro2"),
      max(col("nd")).as("n"))
    val rowSide = centered.groupBy(col(idCol)).agg(sum(expr("cm * cm")).as("r2"))
      .agg(expr("CAST(sum(CAST(r2 AS DECIMAL(38,0))) div count(1) AS BIGINT)")
        .as("avg_norm2_micro2"))
    meanSide.crossJoin(broadcast(rowSide))
      .select(col("n"), col("avg_norm2_micro2"), col("mean_norm2_micro2"),
        expr("CAST(CAST(mean_norm2_micro2 AS DECIMAL(38,0)) * 1000000 div avg_norm2_micro2 AS BIGINT)")
          .as("anisotropy_micro"))
  }

  /** Embedding outlier screen — flag vectors whose squared distance to
    * the corpus mean sits more than z standard deviations above the
    * corpus average (the garbage-embedding / encoder-failure gate run
    * BEFORE any index build or semantic dedup: a handful of far-out
    * vectors become universal hubs in cosine space and poison both).
    * Exact integers end to end: the shared micro lift, the
    * centered-mean per-dim means, per-row distance Σ(m−md)² reduced to
    * micro grain, and a sqrt-free one-sided z-gate cross-multiplied as
    *   n·d > S1  AND  (n·d − S1)² ≥ z²·(n·S2 − S1²)
    * in DECIMAL(38,0) (exact to ~10⁹ rows at this grain; S1 = Σd,
    * S2 = Σd²) — no float variance, no engine-dependent sqrt, so every
    * flag replays bit-exact in HUGEINT SQL.
    *
    * Scale shape: one explode + a 64-row broadcast mean join + two slim
    * aggregations; the gate is a map over the n-row distance frame.
    */
  def outlierReport(df: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding", zSquared: Int = 9): DataFrame = {
    require(zSquared > 0, s"zSquared must be positive: $zSquared")
    val m = df
      .select(col(idCol), posexplode(col(embCol)).as(Seq("d", "x")))
      .select(col(idCol), col("d"),
        round(col("x").cast("double") * 1e6).cast("long").as("m"))
    val means = m.groupBy(col("d"))
      .agg(expr("CAST(round(CAST(sum(m) AS DOUBLE) / count(1)) AS BIGINT)").as("md"))
    val dist = m.join(broadcast(means), "d")
      .groupBy(col(idCol))
      .agg(expr("sum((m - md) * (m - md)) DIV 1000000").as("dist2_micro"))
    val stats = dist.agg(
      count(lit(1)).as("__n"),
      sum(col("dist2_micro")).as("__s1"),
      expr("sum(CAST(dist2_micro AS DECIMAL(38,0)) * dist2_micro)").as("__s2"))
    dist.crossJoin(broadcast(stats))
      .select(col(idCol), col("dist2_micro"),
        expr(s"""CAST(__n AS DECIMAL(38,0)) * dist2_micro > __s1 AND
          (CAST(__n AS DECIMAL(38,0)) * dist2_micro - __s1) *
          (CAST(__n AS DECIMAL(38,0)) * dist2_micro - __s1) >=
          $zSquared * (CAST(__n AS DECIMAL(38,0)) * __s2 -
            CAST(__s1 AS DECIMAL(38,0)) * __s1)""").as("is_outlier"))
  }

  /** Matryoshka coarse-then-rerank search (Kusupati et al., NeurIPS 2022):
    * MRL-trained embeddings front-load information, so ranking by the
    * cosine of the FIRST `dims` coordinates is a usable coarse search at
    * `dims/d` of the flops and scan bytes — no projection matrix, no
    * transform pass (the advantage over the PCA rerank path: the prefix
    * IS the reduced vector, and both stages replay exactly in SQL). The
    * top `rerank` coarse hits re-score with the FULL cosine and the exact
    * top `k` of those returns. Same two-TakeOrdered plan shape as
    * [[bruteForceTopK]] — per-partition heaps, never a global sort; at
    * scale the prefix column is the stored/cached artifact and the full
    * vectors page in only for the `rerank` survivors.
    */
  def matryoshkaTopK(
      df: DataFrame,
      query: Array[Double],
      dims: Int,
      k: Int,
      rerank: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(dims >= 1 && dims <= query.length,
      s"dims must be in [1, ${query.length}]: $dims")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    // A vector whose PREFIX is all-zero has no prefix direction — rank it
    // at cosine 0 (orthogonal) instead of dividing by zero; the hazard is
    // new to truncation (the full vector can be nonzero), so the guard
    // lives here, not in the shared cosine kernel.
    val prefix = slice(col(embCol), 1, dims)
    val coarseCos = when(graft.functions.ArrayOps.l2Norm(prefix) === 0.0, lit(0.0))
      .otherwise(cosineToQuery(prefix, query.take(dims)))
    val coarse = df
      .select(col(idCol), col(embCol), coarseCos.as("coarse_cosine"))
      .orderBy(col("coarse_cosine").desc, col(idCol))
      .limit(rerank)
    coarse
      .select(col(idCol), cosineToQuery(col(embCol), query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic random hyperplanes (driver-side, seeded). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane LSH bucket id: bit j = sign(v · h_j), packed into a
    * long. Collision probability 1 − θ/π per bit (Charikar 2002) — vectors
    * with high cosine land in the same bucket.
    */
  def lshBucket(emb: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val pl = array(p.map(lit(_)).toIndexedSeq: _*)
      when(ArrayOps.dot(emb, pl) >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Precompute the LSH bucket as a stored column. At scale this is written
    * once (and the table bucketed/partitioned by it) so ANN queries prune
    * I/O instead of recomputing n·planes dot products per query.
    */
  def withLshBucket(
      df: DataFrame,
      planes: Array[Array[Double]],
      embCol: String = "embedding",
      bucketCol: String = "lsh_bucket"): DataFrame =
    df.withColumn(bucketCol, lshBucket(col(embCol), planes))

  /** The driver-side bucket of a query vector (bit j = sign(q · h_j)). */
  def queryBucket(query: Array[Double], planes: Array[Array[Double]]): Long =
    planes.zipWithIndex.map { case (p, j) =>
      val d = p.zip(query).map { case (a, b) => a * b }.sum
      if (d >= 0) 1L << j else 0L
    }.sum

  /** ANN top-k over a frame that already carries a [[withLshBucket]] column:
    * restrict the exact cosine scan to buckets within `probeHamming` of the
    * query's bucket (multi-probe LSH), then rank candidates by exact cosine.
    * With the bucket stored (and the table partitioned by it) the filter is
    * partition pruning, not a scan.
    */
  def annTopKBucketed(
      df: DataFrame,
      query: Array[Double],
      planes: Array[Array[Double]],
      k: Int,
      probeHamming: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      bucketCol: String = "lsh_bucket"): DataFrame = {
    val qBucket = queryBucket(query, planes)
    df.filter(bit_count(col(bucketCol).bitwiseXOR(lit(qBucket))) <= probeHamming)
      .select(col(idCol), cosineToQuery(col(embCol), query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Multi-query ANN — the batched shape a 100 TB deployment runs: Q query
    * vectors broadcast as a tiny dimension table (qid, qvec, qbucket), the
    * corpus joined on the Hamming-ball condition against its STORED bucket
    * column (broadcast join — the corpus never shuffles), and per-query
    * top-k via the bounded [[TopKByScoreAgg]] (map-side partial top-k; the
    * shuffle carries ≤ k rows per query per partition — never a
    * single-partition per-query sort). One pass answers all queries.
    */
  def annTopKMultiBucketed(
      df: DataFrame,
      queries: Seq[(Long, Array[Double])],
      planes: Array[Array[Double]],
      k: Int,
      probeHamming: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      bucketCol: String = "lsh_bucket"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = queries.map { case (qid, v) => (qid, v, queryBucket(v, planes)) }
      .toDF("qid", "qvec", "qbucket")
    val cand = df.join(broadcast(qdf),
        bit_count(col(bucketCol).bitwiseXOR(col("qbucket"))) <= probeHamming)
      .select(col("qid"), col(idCol).cast("long").as("__cid"),
        ArrayOps.cosine(col(embCol), col("qvec")).as("cosine"))
    rankTopK(cand, k, idCol)
  }

  /** (qid, __cid, cosine) candidates → (qid, idCol, cosine, rank ≤ k) via
    * the bounded aggregator.
    */
  private def rankTopK(cand: DataFrame, k: Int, idCol: String): DataFrame = {
    val topk = udaf(new TopKByScoreAgg(k), ExpressionEncoder[(Long, Double)]())
    cand.groupBy(col("qid"))
      .agg(topk(col("__cid"), col("cosine")).as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__pos", "__s")))
      .select(col("qid"), col("__s.id").as(idCol), col("__s.score").as("cosine"),
        (col("__pos") + 1).as("rank"))
  }

  /** Deterministic planted-neighbor query set for recall certification: the
    * first `n` corpus vectors, each perturbed by a tiny per-coordinate
    * multiplicative factor (cosine to its source ≈ 0.99999). Recall@k against
    * a NEAR-RANDOM corpus (the test corpus's max query cosine is ~0.36) is
    * not what LSH/IVF promise — their guarantee is that HIGH-cosine
    * neighbors collide; planting such neighbors is what makes the recall
    * assertion a meaningful certificate.
    */
  def perturbedQueries(
      df: DataFrame,
      n: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Seq[(Long, Array[Double])] =
    df.orderBy(col(idCol)).limit(n)
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .collect().toSeq.map { r =>
        val v = r.getSeq[Double](1).toArray
        (r.getLong(0),
          v.zipWithIndex.map { case (x, j) => x * (1.0 + 0.002 * ((j % 5) - 2)) })
      }

  // --- IVF (inverted-file) ANN: coarse k-means quantizer + cell pruning ----

  /** Train IVF centroids driver-side: Lloyd's k-means over a deterministic
    * sample (first `sampleN` rows by id). The quantizer is tiny and global —
    * training on a sample is the standard IVF construction; the full corpus
    * is only ever ASSIGNED (one codegen'd pass), never iterated.
    */
  def trainIvfCentroids(
      df: DataFrame,
      k: Int,
      sampleN: Int = 2048,
      iters: Int = 10,
      seed: Long = 42L,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Array[Array[Double]] = {
    val sample = df.orderBy(col(idCol)).limit(sampleN)
      .select(col(embCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    lloyd(sample, k, iters, new scala.util.Random(seed))
  }

  /** Driver-side Lloyd's k-means over an in-memory sample (shared by the
    * IVF coarse quantizer and the PQ per-subspace codebooks).
    */
  private def lloyd(sample: Array[Array[Double]], k: Int, iters: Int,
      rnd: scala.util.Random): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    var centroids = Array.fill(k)(sample(rnd.nextInt(sample.length)).clone())
    // The assignment step is iters * sampleN * k * dim flops — at the
    // SemDeDup-derived k (sampleN = 16k, k up to 4096) that is ~1e11
    // flops, which single-threaded WAS most of q_semdedup's and
    // q_bitext_margin's corpus-scale wall-clock (guide §5: the driver
    // should do almost no data work). nearestCentroid(v, centroids) is a
    // pure function, so the assignment vector parallelizes exactly; the
    // centroid-update accumulation below stays sequential IN SAMPLE
    // ORDER, so the double sums (and hence the trained centroids) are
    // bit-identical to the former single-threaded fold.
    val assign = new Array[Int](sample.length)
    val nThreads = math.max(1, math.min(
      Runtime.getRuntime.availableProcessors(), sample.length / 1024))
    // One fixed pool for ALL iterations (not nThreads fresh threads per
    // iteration), and workers run as Callables so a worker throw (e.g.
    // AIOOBE from a ragged embedding) propagates through Future.get as an
    // ExecutionException instead of leaving stale entries in `assign` —
    // malformed input fails loudly, as the old sequential loop did.
    val pool: java.util.concurrent.ExecutorService =
      if (nThreads <= 1) null
      else java.util.concurrent.Executors.newFixedThreadPool(nThreads,
        (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    try {
      var it = 0
      while (it < iters) {
        val cents = centroids
        if (nThreads <= 1) {
          var i = 0
          while (i < sample.length) {
            assign(i) = nearestCentroid(sample(i), cents); i += 1
          }
        } else {
          val futures = Array.tabulate(nThreads) { t =>
            pool.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = {
                var i = t
                while (i < sample.length) {
                  assign(i) = nearestCentroid(sample(i), cents); i += nThreads
                }
              }
            })
          }
          // get() rethrows any worker Throwable (wrapped); unwrap so the
          // caller sees the original exception type.
          futures.foreach { f =>
            try f.get()
            catch {
              case e: java.util.concurrent.ExecutionException =>
                throw e.getCause
            }
          }
        }
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Long](k)
        var i = 0
        while (i < sample.length) {
          val c = assign(i)
          counts(c) += 1
          val v = sample(i)
          var j = 0
          while (j < dim) { sums(c)(j) += v(j); j += 1 }
          i += 1
        }
        centroids = Array.tabulate(k) { c =>
          if (counts(c) == 0) sample(rnd.nextInt(sample.length)).clone() // re-seed empty cell
          else sums(c).map(_ / counts(c))
        }
        it += 1
      }
    } finally { if (pool != null) pool.shutdown() }
    centroids
  }

  /** Distributed Lloyd's k-means over the FULL corpus — the quantizer
    * trainer for when a sample won't do. Each iteration is one codegen'd
    * assignment pass ([[ivfCell]] with the current centroids folded in as
    * literals) plus a groupBy(cell) whole-array sum via the map-side
    * partial [[graft.functions.VectorSum]] Aggregator; only k·dim doubles
    * and k counts return to the driver per iteration, so the driver holds
    * O(k·dim) state regardless of corpus size. Initialization is the first
    * k vectors by id (deterministic); empty cells keep their previous
    * centroid.
    */
  def trainIvfCentroidsDistributed(
      df: DataFrame,
      k: Int,
      iters: Int = 10,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Array[Array[Double]] = {
    var centroids = df.orderBy(col(idCol)).limit(k)
      .select(col(embCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(centroids.length == k, s"corpus has fewer than $k rows")
    var it = 0
    while (it < iters) {
      val assigned = df.select(
        col(embCol).cast("array<double>").as("v"),
        ivfCell(col(embCol), centroids).as("cell"))
      val stats = assigned.groupBy(col("cell"))
        .agg(graft.functions.VectorSum.vecSum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      stats.foreach { r =>
        val cell = r.getInt(0)
        val s = r.getSeq[Double](1)
        val n = r.getLong(2)
        next(cell) = s.map(_ / n).toArray
      }
      centroids = next
      it += 1
    }
    centroids
  }

  private def nearestCentroid(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      var d = 0.0; var j = 0
      val cen = centroids(c)
      while (j < v.length) { val x = v(j) - cen(j); d += x * x; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Nearest-centroid cell id as a codegen'd column expression (argmin of
    * squared L2 over the literal centroid set — `array_min` over
    * (distance, index) structs, each distance a native
    * [[graft.functions.L2DistSq]] kernel).
    */
  def ivfCell(emb: Column, centroids: Array[Array[Double]]): Column =
    // One reference-object kernel, not a k-branch struct-min tree: identical
    // assignments (same IEEE order, same lowest-index tie-break — see
    // [[graft.functions.NearestCell]]), O(1) Catalyst tree size at any k.
    graft.functions.VectorKernels.nearestCell(emb, centroids)

  /** Assign the stored IVF cell column — write once, partition/cluster the
    * table by it, and queries prune to `nprobe` cells of I/O.
    */
  def withIvfCell(
      df: DataFrame,
      centroids: Array[Array[Double]],
      embCol: String = "embedding",
      cellCol: String = "ivf_cell"): DataFrame =
    df.withColumn(cellCol, ivfCell(col(embCol), centroids))

  /** IVF ANN top-k: exact-cosine rank restricted to the `nprobe` cells whose
    * centroids are nearest the query. With `cellCol` stored and the table
    * partitioned by it, the `isin` filter is partition pruning.
    */
  def ivfTopK(
      df: DataFrame,
      query: Array[Double],
      centroids: Array[Array[Double]],
      k: Int,
      nprobe: Int = 2,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      cellCol: String = "ivf_cell"): DataFrame = {
    val probes = probeCells(query, centroids, nprobe)
    df.filter(col(cellCol).isin(probes.toIndexedSeq: _*))
      .select(col(idCol), cosineToQuery(col(embCol), query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** The `nprobe` cells whose centroids are L2-nearest the query. */
  def probeCells(query: Array[Double], centroids: Array[Array[Double]], nprobe: Int): Array[Int] =
    centroids.zipWithIndex
      .map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < query.length) { val x = query(j) - c(j); d += x * x; j += 1 }
        (d, i)
      }
      .sortBy(_._1).take(nprobe).map(_._2)

  /** Multi-query IVF ANN, same batched broadcast-join + bounded-top-k shape
    * as [[annTopKMultiBucketed]]: each query carries its `nprobe` probe-cell
    * list; the corpus joins on `array_contains(probes, cell)` against its
    * stored cell column and exact cosine ranks per query.
    */
  def ivfTopKMulti(
      df: DataFrame,
      queries: Seq[(Long, Array[Double])],
      centroids: Array[Array[Double]],
      k: Int,
      nprobe: Int = 2,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      cellCol: String = "ivf_cell"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = queries.map { case (qid, v) => (qid, v, probeCells(v, centroids, nprobe)) }
      .toDF("qid", "qvec", "probes")
    val cand = df.join(broadcast(qdf), array_contains(col("probes"), col(cellCol)))
      .select(col("qid"), col(idCol).cast("long").as("__cid"),
        ArrayOps.cosine(col(embCol), col("qvec")).as("cosine"))
    rankTopK(cand, k, idCol)
  }

  // --- PQ (product quantization): compressed-domain candidate scoring -----
  //
  // The third leg of the ANN ladder (brute force → LSH/IVF pruning → PQ
  // compression): split each vector into `m` subvectors, quantize each
  // against a small per-subspace codebook, and score candidates in the
  // COMPRESSED domain — approximate dot(q, v) = Σ_j dot(q_j, centroid of
  // code_j) — so the scan reads m small ints per row instead of the full
  // vector (Jégou et al. 2011 asymmetric-distance computation). The exact
  // re-rank of the ADC shortlist restores exactness at the top.

  /** Train per-subspace PQ codebooks on a deterministic sample:
    * `[m][k][dim/m]` centroids. The codebooks are tiny and global — the
    * corpus is only ever ENCODED (one pass), never iterated.
    */
  def trainPqCodebooks(
      df: DataFrame,
      m: Int = 8,
      k: Int = 16,
      sampleN: Int = 2048,
      iters: Int = 10,
      seed: Long = 42L,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val sample = df.orderBy(col(idCol)).limit(sampleN)
      .select(col(embCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m) { j =>
      val subSample = sample.map(v => v.slice(j * sub, (j + 1) * sub))
      lloyd(subSample, k, iters, new scala.util.Random(seed + j))
    }
  }

  /** PQ code (array of `m` codebook indices) as a column expression: per
    * subspace, argmin of squared L2 between the embedding slice and the
    * literal centroids — the same codegen'd array_min-of-structs argmin as
    * [[ivfCell]], once per subspace.
    */
  def pqCode(emb: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val sub = codebooks.head.head.length
    val codes = codebooks.zipWithIndex.map { case (book, j) =>
      val s = slice(emb, j * sub + 1, sub)
      val cells = book.zipWithIndex.map { case (c, i) =>
        val cl = array(c.map(lit(_)).toIndexedSeq: _*)
        struct(graft.functions.VectorKernels.l2DistSq(s, cl).as("d"), lit(i).as("i"))
      }
      array_min(array(cells.toIndexedSeq: _*)).getField("i")
    }
    array(codes.toIndexedSeq: _*)
  }

  /** Stored-code column: encode once at write time; ANN queries then scan
    * m ints per row instead of the embedding.
    */
  def withPqCode(
      df: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      embCol: String = "embedding",
      codeCol: String = "pq_code"): DataFrame =
    df.withColumn(codeCol, pqCode(col(embCol), codebooks))

  /** Asymmetric-distance approximate dot product against a query COLUMN
    * (for the batched multi-query join): Σ_j dot(centroids_j[code_j],
    * slice(qvec, j)). The codebooks fold in as literal nested arrays, so
    * the per-row work is m array lookups + m small dot kernels.
    */
  def pqAdcDot(code: Column, qvec: Column,
      codebooks: Array[Array[Array[Double]]]): Column = {
    val sub = codebooks.head.head.length
    codebooks.zipWithIndex.map { case (book, j) =>
      val bookLit = array(book.map(c =>
        array(c.map(lit(_)).toIndexedSeq: _*)).toIndexedSeq: _*)
      ArrayOps.dot(
        element_at(bookLit, element_at(code, j + 1) + 1),
        slice(qvec, j * sub + 1, sub))
    }.reduce(_ + _)
  }

  /** Single-query PQ top-k with exact re-rank: ADC-score the stored codes,
    * shortlist `shortlist` candidates, re-rank the shortlist by exact
    * cosine. The first stage reads only the code column; the exact pass
    * touches `shortlist` embeddings.
    */
  def pqTopKRefined(
      df: DataFrame,
      query: Array[Double],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      shortlist: Int = 80,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      codeCol: String = "pq_code"): DataFrame = {
    val q = array(query.map(lit(_)).toIndexedSeq: _*)
    val short = df
      .withColumn("__adc", pqAdcDot(col(codeCol), q, codebooks))
      .orderBy(col("__adc").desc, col(idCol))
      .limit(shortlist)
    short.select(col(idCol), cosineToQuery(col(embCol), query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Batched multi-query PQ: queries broadcast, every (query, row) pair
    * ADC-scored in the compressed domain, per-query shortlist via the
    * bounded [[TopKByScoreAgg]], shortlist re-ranked by exact cosine. Two
    * aggregations, no per-query jobs.
    */
  def pqTopKMulti(
      df: DataFrame,
      queries: Seq[(Long, Array[Double])],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      shortlist: Int = 80,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      codeCol: String = "pq_code"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = queries.toDF("qid", "qvec")
    val adc = df.join(broadcast(qdf), lit(true))
      .select(col("qid"), col(idCol).cast("long").as("__cid"),
        pqAdcDot(col(codeCol), col("qvec"), codebooks).as("cosine"))
    val short = rankTopK(adc, shortlist, idCol)
      .select(col("qid"), col(idCol))
    val exact = short
      .join(df.select(col(idCol), col(embCol)), idCol)
      .join(broadcast(qdf), "qid")
      .select(col("qid"), col(idCol).cast("long").as("__cid"),
        ArrayOps.cosine(col(embCol), col("qvec")).as("cosine"))
    rankTopK(exact, k, idCol)
  }

  /** IVF-PQ: prune + compress composed over the two STORED columns — the
    * probe-cell filter cuts I/O to `nprobe` cells (partition pruning when
    * the table is laid out by cell), the ADC pass scores only codes inside
    * those cells, and the exact re-rank touches `shortlist` embeddings.
    * This is the standard billion-scale ANN configuration; both columns
    * are written once at ingest.
    */
  def ivfPqTopK(
      df: DataFrame,
      query: Array[Double],
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      nprobe: Int = 2,
      shortlist: Int = 80,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      cellCol: String = "ivf_cell",
      codeCol: String = "pq_code"): DataFrame = {
    val probes = probeCells(query, centroids, nprobe)
    pqTopKRefined(df.filter(col(cellCol).isin(probes.toIndexedSeq: _*)),
      query, codebooks, k, shortlist, idCol, embCol, codeCol)
  }

  /** Batched multi-query IVF-PQ: each query carries its probe-cell list;
    * candidates come from the cell equi-condition join (never the full
    * corpus), are ADC-scored from codes, shortlisted by the bounded top-k
    * aggregator, and exact-re-ranked.
    */
  def ivfPqTopKMulti(
      df: DataFrame,
      queries: Seq[(Long, Array[Double])],
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      nprobe: Int = 2,
      shortlist: Int = 80,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      cellCol: String = "ivf_cell",
      codeCol: String = "pq_code"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = queries.map { case (qid, v) => (qid, v, probeCells(v, centroids, nprobe)) }
      .toDF("qid", "qvec", "probes")
    val adc = df.join(broadcast(qdf), array_contains(col("probes"), col(cellCol)))
      .select(col("qid"), col(idCol).cast("long").as("__cid"),
        pqAdcDot(col(codeCol), col("qvec"), codebooks).as("cosine"))
    val short = rankTopK(adc, shortlist, idCol).select(col("qid"), col(idCol))
    val exact = short
      .join(df.select(col(idCol), col(embCol)), idCol)
      .join(broadcast(qdf.select(col("qid"), col("qvec"))), "qid")
      .select(col("qid"), col(idCol).cast("long").as("__cid"),
        ArrayOps.cosine(col(embCol), col("qvec")).as("cosine"))
    rankTopK(exact, k, idCol)
  }

  /** All-pairs near-duplicate candidates by embedding cosine: bucket join on
    * the LSH key (equi-join, shuffle O(n)), exact cosine on candidates only.
    */
  def cosineNearDupCandidates(
      df: DataFrame,
      planes: Array[Array[Double]],
      threshold: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val bucketed = df.select(col(idCol).as("id"), col(embCol).as("emb"),
      lshBucket(col(embCol), planes).as("bucket"))
    val a = bucketed.alias("a"); val b = bucketed.alias("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        ArrayOps.cosine(col("a.emb"), col("b.emb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Corpus-scale hard-negative mining over IVF-cell candidates — the
    * full-corpus-anchors counterpart of the exact bounded-batch miner
    * (`q_sim_hardneg`): every anchor's candidates come from its IVF cell
    * EQUI-join, never the |anchors|·|corpus| cross product, so work is
    * Σ|cellA|·|cell| and stays linear when the cell count scales with the
    * corpus ([[SemDedup.deriveK]]). Per anchor the top-ranked candidate is
    * the POSITIVE and ranks 2..negK+1 the hard negatives. The fat-cell
    * guard reuses [[SemDedup.saltedCells]] (content-hash sub-buckets bound
    * one degenerate cell; identical/planted-near vectors co-bucket under
    * the cell-size default). Known miss — a true nearest neighbor split
    * across a cell boundary — is the standard IVF approximate-kNN trade,
    * certified by the planted-anchor recall query (`q_sim_hardneg_ann`).
    * Determinism: rank ties break on ascending candidate id.
    */
  def hardNegativesCells(
      df: DataFrame,
      centroids: Array[Array[Double]],
      isAnchor: Column => Column,
      negK: Int = 3,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      maxCellSize: Int = SemDedup.DefaultMaxCellSize): DataFrame = {
    require(negK >= 1, s"negK must be >= 1: $negK")
    // One assignment pass (the expensive codegen'd argmin), checkpointed:
    // the salt count and both join sides read the same cell column.
    val assigned = df.select(col(idCol).as("id"), col(embCol).as("emb"),
        ivfCell(col(embCol), centroids).as("cell"))
      .localCheckpoint()
    val salted = SemDedup.saltedCells(assigned, maxCellSize)
    val anchors = salted.filter(isAnchor(col("id")))
      .select(col("id").as("anchor"), col("emb").as("__ae"),
        col("cell"), col("sub"))
    val cand = anchors
      .join(salted.select(col("id").as("cand"), col("emb").as("__ce"),
        col("cell"), col("sub")), Seq("cell", "sub"))
      .filter(col("anchor") =!= col("cand"))
      .select(col("anchor"), col("cand"),
        ArrayOps.cosine(col("__ae"), col("__ce")).as("cosine"))
    val w = Window.partitionBy(col("anchor"))
      .orderBy(col("cosine").desc, col("cand"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= negK + 1)
      .select(col("anchor"), col("rank").cast("long").as("rank"), col("cand"),
        col("cosine"), (col("rank") === 1).as("is_positive"))
  }
}
