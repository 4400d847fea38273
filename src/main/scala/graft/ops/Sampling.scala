package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for pipeline curation at scale.
  *
  * `df.sample()` draws from a per-partition RNG: the kept set changes with
  * partitioning, retries, and cluster layout — useless for reproducible
  * training-data curation, A/B holdouts, or an oracle check. These operators
  * derive the keep decision from a KEY, so the same row is kept on every
  * run, every layout, every engine:
  *
  *  - [[hashSample]]: keep iff `mix(key) mod den < num` — a pure map-side
  *    filter (no shuffle, no state), rate num/den, stable under resharding.
  *    `mix` is the Knuth multiplicative hash (key * 2654435761 mod 2^32),
  *    chosen over xxhash64/murmur3 because it is plain modular arithmetic —
  *    reproducible in ANY engine (the DuckDB oracle re-derives it in SQL).
  *    The multiply stays within Long for |key| < 2^32 (TPC-H keys at any SF
  *    tested here; at larger domains swap in xxhash64 and lose only the
  *    cross-engine oracle, not determinism).
  *  - [[stratifiedFirstN]]: exactly `n` rows per stratum (fewer when the
  *    stratum is smaller), chosen by hash order so the pick is unbiased and
  *    stable. One shuffle on the strata key; per-stratum TOP-N via
  *    row_number, which Spark executes without a global sort.
  */
object Sampling {

  /** Knuth multiplicative mix of a non-negative integer key into [0, 2^32):
    * `key · 2654435761 mod 2^32`, computed via a 16/16-bit split of the
    * mod-2^32-reduced key so every intermediate stays below 2^63 for ANY
    * Long key (the earlier direct multiply ANSI-overflowed past
    * |key| ≥ 2^32 — hit at sf10's 10^10 id offsets). Identity-exact with
    * the direct product: key = q·2^32 + k32 makes q's term ≡ 0 mod 2^32,
    * and (hi·2^16 + lo)·C mod 2^32 distributes over the split — so DuckDB
    * oracles keep the plain `key * C % 2^32` formula (HUGEINT arithmetic
    * never overflows there) and the values match bit-for-bit.
    */
  def mix32(key: Column): Column = {
    val c = 2654435761L
    val m = 4294967296L
    val k32 = pmod(key.cast("long"), lit(m))
    val lo = k32 % lit(65536L)
    // exact: (k32 - lo) < 2^32 is 65536-divisible, double division is
    // exact below 2^53, cast back to long
    val hi = ((k32 - lo) / lit(65536L)).cast("long")
    pmod(pmod(hi * lit(c), lit(m)) * lit(65536L) + lo * lit(c), lit(m))
  }

  /** Deterministic Bernoulli(num/den) sample keyed on `key`. Map-side only:
    * the plan is scan → filter, nothing shuffles and the parquet scan still
    * prunes columns/partitions beneath it.
    */
  def hashSample(df: DataFrame, key: Column, num: Long, den: Long): DataFrame = {
    require(den > 0 && num >= 0 && num <= den, s"need 0 <= num <= den, got $num/$den")
    df.filter(pmod(mix32(key), lit(den)) < lit(num))
  }

  /** Deterministic stratified sample: the first `n` rows of each stratum in
    * (mix32(key), key) order. Ties are impossible (key breaks them), so the
    * result is a function of the data alone.
    */
  def stratifiedFirstN(df: DataFrame, strata: Seq[String], key: Column,
      n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    val w = Window.partitionBy(strata.map(col): _*).orderBy(mix32(key), key)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Deterministic train/holdout split: (train, holdout) with the holdout
    * fraction num/den keyed on `key` — complementary partitions of `df`.
    */
  def split(df: DataFrame, key: Column, num: Long, den: Long): (DataFrame, DataFrame) = {
    require(den > 0 && num >= 0 && num <= den, s"need 0 <= num <= den, got $num/$den")
    val h = pmod(mix32(key), lit(den)) < lit(num)
    (df.filter(!h), df.filter(h))
  }

  /** Domain-mixture downsampling — the pretraining mixing knob: keep each
    * document of source `s` with probability `min(1, budget(s) / tokens(s))`,
    * so every source's expected KEPT TOKEN mass equals its budget (sources
    * over budget thin out, sources under budget pass whole). Sources absent
    * from `budgets` are dropped.
    *
    * Deterministic and exact: the keep gate is the integer comparison
    * `mix32(key) · T_s < B_s · 2^32` evaluated in DECIMAL(38) — no float
    * rate, no 64-bit overflow (mix < 2^32 and T_s, B_s < 2^63 keep both
    * products inside 29 digits), and bit-reproducible in the oracle's
    * HUGEINT arithmetic. Per-source totals are ONE tiny aggregate
    * (map-side partials, one row per source) broadcast back; the corpus
    * itself never shuffles — the plan is scan → broadcast-join → filter.
    */
  /** Epoch-based mixture UP-sampling — the other half of the mixing knob
    * ([[weightedByTokenBudget]] thins over-budget sources; this repeats
    * under-represented ones, the standard published-recipe shape where
    * high-quality sources run >1 epoch). Each source carries a repeat
    * factor in MILLI-epochs (2500 = 2.5 epochs); a row gets
    * `factor div 1000` copies plus one more iff
    * `mix32(key) mod 1000 < factor mod 1000`, so realized copies are a
    * deterministic function of the key, expected copies are exactly
    * factor/1000, and fractions < 1 downsample (factor 0 drops the
    * source). Unlisted sources pass through at one epoch.
    *
    * Copies are tagged with a 0-based `epoch` column so downstream
    * shuffles (packing, the global training-order sort) spread them —
    * repeats must not be adjacent in the training stream. Map-side only:
    * scan → broadcast factor join → explode(sequence); the corpus never
    * shuffles and the explode multiplies rows AFTER any pushed-down
    * column pruning.
    */
  def upsampleEpochs(df: DataFrame, sourceCol: String, key: Column,
      epochsMilli: Map[String, Long]): DataFrame = {
    require(epochsMilli.values.forall(_ >= 0), "epoch factors must be non-negative")
    val spark = df.sparkSession
    import spark.implicits._
    val f = epochsMilli.toSeq.toDF(sourceCol, "__fm")
    df.join(broadcast(f), Seq(sourceCol), "left")
      .withColumn("__fm", coalesce(col("__fm"), lit(1000L)))
      .withColumn("__copies", expr("__fm div 1000") +
        when(pmod(mix32(key), lit(1000L)) < pmod(col("__fm"), lit(1000L)), lit(1L))
          .otherwise(lit(0L)))
      .filter(col("__copies") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__copies") - 1L)))
      .drop("__fm", "__copies")
  }

  /** Temperature-weighted mixture budgets — the published-recipe α knob
    * (sampling weight ∝ size^α, α < 1 flattens the source distribution so
    * huge crawls stop drowning small curated sets; α = 1/2 here). Returns
    * one `(source, budget)` row per source with
    *
    *   budget_s = globalBudget · ⌊√tokens_s⌋ div Σ ⌊√tokens_s⌋
    *
    * — the square root is floored to an integer BEFORE the normalizing
    * sum so every quantity after the (correctly-rounded, engine-identical
    * IEEE) sqrt is exact integer arithmetic: no summation-order ulp can
    * flip a budget, and the result feeds [[weightedByTokenBudget]]
    * unchanged. One tiny aggregate (a row per source); the corpus itself
    * is only scanned for token totals.
    */
  def temperatureBudgets(df: DataFrame, sourceCol: String,
      tokenCount: Column, globalBudget: Long): DataFrame = {
    require(globalBudget >= 0, "globalBudget must be non-negative")
    val totals = df.groupBy(col(sourceCol))
      .agg(sum(tokenCount.cast("long")).as("__tokens"))
      .withColumn("__st", floor(sqrt(col("__tokens"))).cast("long"))
    val denom = totals.agg(sum(col("__st")).as("__den"))
    totals.crossJoin(broadcast(denom))
      .select(col(sourceCol),
        expr(s"$globalBudget * __st div __den").as("budget"))
  }

  def weightedByTokenBudget(df: DataFrame, sourceCol: String, key: Column,
      tokenCount: Column, budgets: Map[String, Long]): DataFrame = {
    require(budgets.values.forall(_ >= 0), "budgets must be non-negative")
    val spark = df.sparkSession
    import spark.implicits._
    weightedByTokenBudgetDf(df, sourceCol, key, tokenCount,
      budgets.toSeq.toDF(sourceCol, "__budget"))
  }

  /** Budgets-as-dataset form of [[weightedByTokenBudget]] — the shape
    * [[temperatureBudgets]] (or any computed mixing policy) feeds without
    * a driver round-trip. First column = source, second = budget.
    */
  def weightedByTokenBudgetDf(df: DataFrame, sourceCol: String, key: Column,
      tokenCount: Column, budgets: DataFrame): DataFrame = {
    val b = budgets.select(
      col(budgets.columns.head).as(sourceCol),
      col(budgets.columns(1)).cast("long").as("__budget"))
    val totals = df.groupBy(col(sourceCol))
      .agg(sum(tokenCount.cast("long")).as("__tokens"))
      .join(b, sourceCol) // inner: un-budgeted sources drop here
    df.join(broadcast(totals), sourceCol)
      // decimal(10)·decimal(19) → decimal(30): exact, no 64-bit overflow
      .filter(mix32(key).cast("decimal(10,0)") * col("__tokens").cast("decimal(19,0)") <
        col("__budget").cast("decimal(19,0)") * lit(4294967296L).cast("decimal(10,0)"))
      .drop("__tokens", "__budget")
  }

  /** EXACT top-fraction selection by a score column — the
    * FineWeb-Edu-style "keep the best X% by classifier score" gate, with
    * a total (score desc, tie asc) order so the boundary is
    * deterministic and cross-engine exact.
    *
    * Plans as sort + limit, which Spark executes as per-partition top-k
    * + single k-row merge (TakeOrdered shape — k·partitions rows move,
    * never the corpus). That is the right plan while k fits one task's
    * memory (here: a count job + the top-k job). For corpus-scale k
    * (billions of survivors), flip to the threshold form: an approx
    * quantile picks the score cutoff, a map-side filter gates, and the
    * boundary run of equal scores is resolved by the tie key — same
    * result, no global k-row materialization.
    */
  def topFractionByScore(df: DataFrame, score: Column, frac: Double,
      tie: Column): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, "frac must be in (0, 1]")
    val n = df.count()
    val k = math.ceil(frac * n).toLong
    require(k <= Int.MaxValue,
      s"k=$k exceeds the sort+limit path; use topFractionByScoreDist")
    df.orderBy(score.desc, tie.asc).limit(k.toInt)
  }

  /** Measured sort+limit↔dist crossover for [[topFractionByScoreAuto]]:
    * below ~1M selected rows the sort+limit form wins (per-partition
    * top-k + one small merge, no staging); above it the range-partitioned
    * prefix form is 2.5× at k=3M and 1.75× at k=30M — where sort+limit
    * also funnels a corpus-fraction k through one merge task and the
    * driver (sweep at k=0.3M/0.9M/3M/30M on local[16], recorded in
    * `bench/history/BENCH_local_r17_topfrac.json`).
    */
  val DistKThreshold = 1000000L

  /** Form-dispatching [[topFractionByScore]] — the same discipline as
    * `MixPlanner.budgetSelectAuto` (VERDICT r16 item 1): the measured
    * crossover lives HERE, not in a bench file, so a pipeline caller
    * cannot ship the single-merge-task sort+limit against a
    * corpus-fraction k by not reading a scaladoc.
    *
    * Probes k with one count job and picks [[topFractionByScoreDist]]
    * when it exceeds [[DistKThreshold]], the sort+limit
    * [[topFractionByScore]] otherwise (reusing the probe's count — no
    * second count job). Outputs are IDENTICAL either way (the selected
    * set is a pure function of the (score desc, tie asc) total order),
    * so the dispatch is a pure cost decision. Same determinism
    * precondition as both forms: `tie` unique within equal-score runs.
    *
    * Callers that already know their scale pass `kHint` ≥ 0 (expected
    * ⌈frac·n⌉) to skip the probe job; the hint picks the FORM only —
    * the selected set always comes from the form's own exact count.
    */
  def topFractionByScoreAuto(df: DataFrame, score: Column, frac: Double,
      tie: Column, partitions: Int = 0, kHint: Long = -1L): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, "frac must be in (0, 1]")
    val k = if (kHint >= 0L) kHint else math.ceil(frac * df.count()).toLong
    if (k > DistKThreshold)
      topFractionByScoreDist(df, score, frac, tie, partitions)
    else if (kHint >= 0L)
      topFractionByScore(df, score, frac, tie) // exact k from its own count
    else {
      require(k <= Int.MaxValue,
        s"k=$k exceeds the sort+limit path; use topFractionByScoreDist")
      df.orderBy(score.desc, tie.asc).limit(k.toInt)
    }
  }

  /** Exact top-⌈frac·n⌉ selection at corpus scale — the implemented form
    * of the flip [[topFractionByScore]]'s guard names. sort+limit funnels
    * all k survivors through ONE merge task: fine for report-sized k,
    * fatal when k is a corpus fraction (the FineWeb-Edu gate keeps ~30%
    * of the corpus). Here the frame range-partitions on the total order
    * (score DESC, tie ASC), a P-row count frame becomes exclusive prefix
    * offsets on the driver (P = partition COUNT, never data), and then:
    * every partition strictly before the boundary keeps ALL rows with no
    * rank at all; only the ONE boundary partition ranks (its rows ≈ n/P,
    * the task-size bound the range partitioner already guarantees);
    * everything after drops at the filter. The selected SET is a pure
    * function of the total order — independent of P and of where the
    * range boundaries fall — so the result is deterministic under any
    * parallelism and identical to the sort+limit form.
    *
    * Determinism PRECONDITION (ADVICE r14, shared with the sort+limit
    * twin): `(score, tie)` must be a strict total order — `tie` unique
    * within any equal-score run. With duplicate (score, tie) keys the
    * boundary rank (here) or the limit cutoff (there) splits the
    * duplicate run arbitrarily, and the selected SET varies run to run.
    * Every call site in this repo ties on a unique id; pass one.
    */
  def topFractionByScoreDist(df: DataFrame, score: Column, frac: Double,
      tie: Column, partitions: Int = 0): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, "frac must be in (0, 1]")
    val spark = df.sparkSession
    val p = math.max(2,
      if (partitions > 0) partitions else spark.sparkContext.defaultParallelism)
    // Stage the scored input ONCE before range partitioning:
    // repartitionByRange SAMPLES its child to pick boundaries and then
    // exchanges it — two full evaluations of whatever scoring kernel the
    // caller computed (measured 2.2× the sort+limit total at sf10 before
    // this). With the input materialized, the sample and the exchange
    // both read slim checkpointed rows. Pass a slim (key, score)
    // projection — the checkpoint holds exactly the caller's columns.
    val staged = df.localCheckpoint()
    val parted = staged.repartitionByRange(p, score.desc, tie.asc)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val counts = parted.groupBy(col("__pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    val k = math.ceil(frac * n).toLong
    val prefix = (0 until p).map(i => counts.getOrElse(i, 0L)).scanLeft(0L)(_ + _)
    (0 until p).find(i => prefix(i) < k && k <= prefix(i + 1)) match {
      case None => // n == 0 (frac > 0 makes k = 0 only there)
        parted.limit(0).drop("__pid")
      case Some(b) =>
        val whole = parted.filter(col("__pid") < b)
        // one partition's rows through one task — bounded by n/P, the
        // same bound every range-partitioned sort task already has
        val w = Window.orderBy(score.desc, tie.asc)
        val boundary = parted.filter(col("__pid") === b)
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= (k - prefix(b)))
          .drop("__rk")
        whole.unionByName(boundary).drop("__pid")
    }
  }
}
