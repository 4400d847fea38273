package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Data-constrained mixture planning: turn per-domain sampling weights +
  * per-domain token inventories into an exact per-domain token budget.
  *
  * The mixing literature produces *weights* (DoReMi's domain weights, DSIR's
  * importance weights, hand-tuned Pile/Dolma proportions); a training run
  * has a *token budget* and each domain has a finite inventory with a
  * repetition ceiling (data-constrained scaling: past ~4 epochs, repeated
  * tokens stop paying — so a domain's usable capacity is
  * `tokens_available · max_epochs`, not infinity). Turning weights into an
  * executable allocation is the classic capped proportional fill
  * ("water-filling"): grow every domain proportionally to its weight until
  * it hits its capacity; redistribute the excess over the unsaturated rest;
  * repeat. The fixed point allocates `min(cap_i, w_i · t*)` where the water
  * level `t*` exhausts the budget.
  *
  * Implemented CLOSED-FORM and ORDER-FREE: domain `i` is saturated iff the
  * total spend at its own ratio level is within budget —
  * `S(cap_i / w_i) = Σ_j min(cap_j, w_j · cap_i / w_i) ≤ B`, which clears
  * denominators to the all-integer test
  * `Σ_j min(cap_j · w_i, w_j · cap_i) ≤ B · w_i`. No ratio sort (so no
  * truncated-rational sort key to get wrong — equal-ratio ties are handled
  * by construction: they share one S value), every product exact in
  * DECIMAL(38,0) (finding 61: products of token counts × micro weights
  * exceed Long), and the DuckDB oracle replays it verbatim with HUGEINT.
  * The pairwise form is an n² self-join over the DOMAIN frame — domains are
  * mixture components (tens to a few thousand), never documents, and
  * [[MaxDomains]] refuses anything larger loudly. At 4096 domains the join
  * is 16M cheap integer rows across the cluster; the corpus-sized side of a
  * real pipeline only ever appears in [[budgetSelect]], which stays linear.
  *
  * Unsaturated domains split the residual budget by largest-remainder
  * rounding (floor proportional share + one extra token to the largest
  * fractional remainders, ties by domain name), so `Σ alloc = min(B, Σ cap)`
  * EXACTLY — an allocation that is off by even one token is a real bug a
  * downstream packer will surface.
  */
object MixPlanner {

  /** Hard bound on the n² domain self-join (same loud-refusal discipline as
    * `Dedup.requireBoundedDocs`): mixtures are tens-to-thousands of
    * components; a million-row "domain" frame means the caller passed
    * documents, and the right tool is [[budgetSelect]]'s linear pass.
    */
  val MaxDomains = 4096

  /** Exact water-filling token allocation.
    *
    * Input: one row per domain with a positive micro-weight (relative
    * sampling weight × 1e6 — need not sum to 1e6) and a non-negative token
    * inventory. `maxEpochsMicro` caps repetition: capacity
    * `cap_i = (avail_i · maxEpochsMicro) div 1e6` (4e6 = the
    * data-constrained-scaling ~4-epoch ceiling).
    *
    * Output, one row per domain:
    * `(domain, weight_micro, avail_tokens, cap_tokens, alloc_tokens,
    * saturated, epochs_micro)` where `Σ alloc_tokens = min(budget, Σ cap)`
    * exactly, `0 ≤ alloc ≤ cap`, `saturated = (alloc == cap)` for every
    * capacity-bound domain, and `epochs_micro = (alloc · 1e6) div avail`
    * (null for an empty domain). Deterministic: no RNG, ties in the
    * remainder rank break by domain name.
    *
    * The final largest-remainder rank is a single-partition window over the
    * domain frame — bounded by [[MaxDomains]], so never a scale concern.
    */
  def budgetAllocation(domains: DataFrame, domainCol: String,
      weightMicroCol: String, availCol: String, budgetTokens: Long,
      maxEpochsMicro: Long = 4000000L): DataFrame = {
    require(budgetTokens >= 0, s"budget must be non-negative: $budgetTokens")
    require(maxEpochsMicro > 0,
      s"maxEpochsMicro must be positive: $maxEpochsMicro")
    val dec = "decimal(38,0)"
    // One defensive projection: validated long weights/inventories and the
    // epoch-capped capacity. `div` keeps everything integral (both engines
    // truncate toward zero; all terms non-negative).
    val base = domains.select(
        col(domainCol).cast("string").as("domain"),
        col(weightMicroCol).cast("long").as("weight_micro"),
        col(availCol).cast("long").as("avail_tokens"))
      .withColumn("cap_tokens",
        expr(s"(cast(avail_tokens as $dec) * $maxEpochsMicro) div 1000000")
          .cast("long"))
    // Loud input validation in the SAME job as the MaxDomains count
    // (ADVICE r15): a zero/negative/null weight passes the cleared-
    // denominator saturation test (0 ≤ B·0), reads as saturated, and
    // silently drains budget into a domain the caller asked nothing for;
    // negative inventories corrupt every downstream product.
    val guard = base.agg(count(lit(1)).as("n"),
      coalesce(sum(when(col("weight_micro").isNull ||
        col("weight_micro") <= 0L || col("avail_tokens").isNull ||
        col("avail_tokens") < 0L, 1L)), lit(0L)).as("bad")).head()
    val n = guard.getLong(0)
    require(n <= MaxDomains,
      s"mix allocation refused: $n domains > cap $MaxDomains. The water-" +
        s"filling self-join is quadratic in DOMAINS; pass mixture " +
        s"components, not documents (budgetSelect applies an allocation " +
        s"to a corpus linearly).")
    require(guard.getLong(1) == 0L,
      s"mix allocation refused: ${guard.getLong(1)} domain(s) with " +
        s"non-positive/null weight_micro or negative/null avail_tokens — " +
        s"drop or fix them upstream; a zero-weight domain would silently " +
        s"read as saturated and be allocated its full capacity.")
    // n ≤ 4096 and reused thrice below (self-join both sides + final join):
    // pin the validated frame once.
    val d = base.localCheckpoint(true)
    // Saturation test, cleared of denominators: spent_i = Σ_j min(cap_j·w_i,
    // w_j·cap_i) ≤ B·w_i. Products are tokens × micro ≈ 1e21 — DECIMAL.
    val i = d.select(col("domain"), col("weight_micro").as("__wi"),
      col("cap_tokens").as("__ci"))
    val j = d.select(col("weight_micro").as("__wj"), col("cap_tokens").as("__cj"))
    val spent = i.crossJoin(broadcast(j))
      .groupBy(col("domain"), col("__wi"), col("__ci"))
      .agg(sum(least(
        expr(s"cast(__cj as $dec) * __wi"),
        expr(s"cast(__wj as $dec) * __ci"))).as("__spent"))
      .withColumn("saturated",
        col("__spent") <= expr(s"cast($budgetTokens as $dec) * __wi"))
      .select(col("domain"), col("saturated"))
    val marked = d.join(broadcast(spent), Seq("domain"))
    // Residual budget over the unsaturated weight mass (one broadcast row).
    val totals = marked.agg(
      coalesce(sum(when(col("saturated"), col("cap_tokens"))), lit(0L))
        .as("__sat_spend"),
      coalesce(sum(when(!col("saturated"), col("weight_micro"))), lit(0L))
        .as("__w_unsat"))
    val withTotals = marked.crossJoin(broadcast(totals))
      .withColumn("__resid", lit(budgetTokens) - col("__sat_spend"))
    // Floor proportional share + remainder for the unsaturated; saturated
    // domains take exactly their capacity. R·w ≈ 1e21 — DECIMAL again;
    // quotient ≤ R fits Long.
    val withFloor = withTotals
      .withColumn("__alloc0", when(col("saturated"), col("cap_tokens"))
        .otherwise(expr(s"(cast(__resid as $dec) * weight_micro) div __w_unsat")
          .cast("long")))
      .withColumn("__rem", when(col("saturated"), lit(-1L))
        .otherwise(expr(s"(cast(__resid as $dec) * weight_micro) % __w_unsat")
          .cast("long")))
    // Largest-remainder top-up: L = R − Σ floor extra tokens to the L
    // largest remainders (saturated rows sit at rem = −1, never topped up).
    // Single-partition window, bounded by MaxDomains.
    val leftTot = withFloor.agg(
      (lit(budgetTokens) -
        coalesce(sum(when(col("saturated"), col("cap_tokens"))
          .otherwise(col("__alloc0"))), lit(0L))).as("__left"),
      coalesce(sum(when(!col("saturated"), 1L).otherwise(0L)), lit(0L))
        .as("__n_unsat"))
    val rankW = Window.orderBy(col("__rem").desc, col("domain").asc)
    withFloor.crossJoin(broadcast(leftTot))
      .withColumn("__rk", row_number().over(rankW))
      // With zero unsaturated domains the leftover is unallocatable
      // (total capacity < budget): report alloc = cap and the shortfall
      // shows up as Σ alloc < budget.
      .withColumn("alloc_tokens",
        col("__alloc0") + when(!col("saturated") &&
          col("__rk") <= least(col("__left"), col("__n_unsat")), 1L)
          .otherwise(0L))
      .withColumn("epochs_micro",
        when(col("avail_tokens") > 0,
          expr(s"(cast(alloc_tokens as $dec) * 1000000) div avail_tokens")
            .cast("long")))
      .select(col("domain"), col("weight_micro"), col("avail_tokens"),
        col("cap_tokens"), col("alloc_tokens"), col("saturated"),
        col("epochs_micro"))
  }

  /** Realized-vs-planned mixture audit — the post-selection check every
    * training run does before spending compute: per domain, the planned
    * allocation, the tokens actually selected, the unfilled remainder
    * (under the [[budgetSelect]] prefix rule, at most one document's
    * tokens), and both shares in exact integer micro units with their
    * signed drift. Domains the selection never touched still appear
    * (realized 0) — a silently empty domain is precisely what the audit
    * exists to surface. One aggregation over the selection + two broadcast
    * joins (the allocation frame is ≤ [[MaxDomains]] rows, the totals one
    * row); integer division truncates toward zero in both engines.
    */
  def mixReport(selected: DataFrame, domainCol: String, tokensCol: String,
      alloc: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val realized = selected
      .groupBy(col(domainCol).cast("string").as("domain"))
      .agg(sum(col(tokensCol).cast("long")).as("__r"))
    val joined = alloc.select(col("domain"), col("alloc_tokens"))
      .join(broadcast(realized), Seq("domain"), "left")
      .withColumn("realized_tokens", coalesce(col("__r"), lit(0L)))
    val totals = joined.agg(
      coalesce(sum(col("alloc_tokens")), lit(0L)).as("__ta"),
      coalesce(sum(col("realized_tokens")), lit(0L)).as("__tr"))
    joined.crossJoin(broadcast(totals))
      .withColumn("shortfall_tokens", col("alloc_tokens") - col("realized_tokens"))
      .withColumn("planned_share_micro",
        when(col("__ta") > 0,
          expr(s"(cast(alloc_tokens as $dec) * 1000000) div __ta").cast("long")))
      .withColumn("realized_share_micro",
        when(col("__tr") > 0,
          expr(s"(cast(realized_tokens as $dec) * 1000000) div __tr").cast("long")))
      .withColumn("drift_micro",
        col("realized_share_micro") - col("planned_share_micro"))
      .select(col("domain"), col("alloc_tokens"), col("realized_tokens"),
        col("shortfall_tokens"), col("planned_share_micro"),
        col("realized_share_micro"), col("drift_micro"))
  }

  /** Apply a per-domain token allocation to a corpus: keep each domain's
    * documents in priority order (priority desc, id asc — a strict total
    * order when `idCol` is unique) while the INCLUSIVE running token sum
    * stays within the domain's `alloc_tokens`; the first overshooting
    * document and everything after it are dropped. The prefix rule means a
    * domain may underfill by at most one document's tokens — the exact
    * budget is a packing concern (`Packing`), not a selection concern.
    *
    * One broadcast join (the allocation frame is ≤ [[MaxDomains]] rows) +
    * one per-domain running-sum window. The window sorts each domain's
    * partition — fine up to tens of millions of docs per domain; a
    * single pathological mega-domain (a Pile-style mixture where one
    * domain IS most of the corpus) lands its whole window on one task —
    * that shape goes to [[budgetSelectDist]], which returns the identical
    * set with every task bounded by ~n/P. Callers that don't know their
    * shape use [[budgetSelectAuto]], which probes and dispatches on the
    * measured crossover.
    *
    * Returns the kept rows as `(domain, id, priority, tokens, cum_tokens)`.
    */
  def budgetSelect(docs: DataFrame, domainCol: String, idCol: String,
      tokensCol: String, priorityCol: String, alloc: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("domain"))
      .orderBy(col("priority").desc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(domainCol).cast("string").as("domain"),
        col(idCol).as("id"), col(priorityCol).as("priority"),
        col(tokensCol).cast("long").as("tokens"))
      .join(broadcast(alloc.select(col("domain"),
        col("alloc_tokens"))), Seq("domain"))
      .withColumn("cum_tokens", sum(col("tokens")).over(w))
      .filter(col("cum_tokens") <= col("alloc_tokens"))
      .select(col("domain"), col("id"), col("priority"), col("tokens"),
        col("cum_tokens"))
  }

  /** Mega-domain scale path of [[budgetSelect]] (VERDICT r15 item 4) —
    * IDENTICAL output, no per-domain single-task window. The windowed form
    * hash-partitions by domain, so one domain holding 80% of the corpus
    * (not pathological: The Pile's CC slice) sorts 80% of the corpus in
    * ONE task. Here the distributed running sum is the two-level prefix
    * trick of `Sampling.topFractionByScoreDist`, generalized from ranks to
    * token sums:
    *
    *  1. range-partition the slim projection on the selection's total
    *     order `(domain asc, priority desc, id asc)` — a mega-domain
    *     spreads CONTIGUOUSLY over many partitions;
    *  2. per (partition, domain) token subtotals collect to the driver —
    *     domains are contiguous in the range order, so that frame has at
    *     most P + [[MaxDomains]] rows (partition count + domain count,
    *     never data) — and scan into exclusive prefix OFFSETS;
    *  3. each row's global running sum = its WITHIN-chunk running sum
    *     (window keyed by (chunk, domain): every window partition is
    *     ≤ ~n/P rows, the same bound the range partitioner guarantees a
    *     sort task) + the broadcast offset of its (chunk, domain).
    *
    * The kept set and every `cum_tokens` are pure functions of the total
    * order — independent of P and of where range boundaries fall (the
    * partition-sweep equality spec pins this). Same determinism
    * precondition as the windowed form: (priority, id) strict total order
    * within a domain.
    *
    * Cost: one range exchange + one hash exchange of the slim 4-column
    * projection, both balanced at any skew. The windowed form stays the
    * right default when every domain fits a task.
    */
  def budgetSelectDist(docs: DataFrame, domainCol: String, idCol: String,
      tokensCol: String, priorityCol: String, alloc: DataFrame,
      partitions: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // The (chunk, domain) subtotal collect below is bounded by
    // P + |domains| rows ONLY when the allocation frame really is a
    // mixture (ADVICE r16): a document-granularity alloc would silently
    // pull O(docs) rows to the driver. Same loud refusal as
    // budgetAllocation; limit() bounds the probe itself.
    val nAlloc = alloc.limit(MaxDomains + 1).count()
    require(nAlloc <= MaxDomains,
      s"budgetSelectDist refused: allocation frame has > $MaxDomains rows " +
        s"— pass per-DOMAIN allocations (budgetAllocation output), not " +
        s"per-document rows; the prefix-offset frame must stay " +
        s"driver-bounded.")
    val p = math.max(2,
      if (partitions > 0) partitions else spark.sparkContext.defaultParallelism)
    val slim = docs.select(col(domainCol).cast("string").as("domain"),
        col(idCol).as("id"), col(priorityCol).as("priority"),
        col(tokensCol).cast("long").as("tokens"))
      .join(broadcast(alloc.select(col("domain"),
        col("alloc_tokens"))), Seq("domain"))
    // Stage once before range partitioning (topFractionByScoreDist's
    // lesson): repartitionByRange SAMPLES its child for boundaries and
    // then exchanges it — two evaluations of the caller's priority/token
    // kernels without this.
    val parted = slim.localCheckpoint()
      .repartitionByRange(p, col("domain").asc, col("priority").desc,
        col("id").asc)
      .withColumn("__chunk", spark_partition_id())
      .localCheckpoint()
    // (chunk, domain) subtotals → driver → exclusive prefix offsets.
    // Bounded by P + MaxDomains rows because domains are range-contiguous.
    val subtotals = parted.groupBy(col("__chunk"), col("domain"))
      .agg(sum(col("tokens")).as("t"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val offsets = subtotals.groupBy(_._2).iterator.flatMap {
      case (domain, chunks) =>
        val sorted = chunks.sortBy(_._1).toSeq
        sorted.zip(sorted.scanLeft(0L)(_ + _._3)).map {
          case ((chunk, _, _), off) => (chunk, domain, off)
        }
    }.toSeq.toDF("__chunk", "domain", "__offset")
    // Within-chunk running sum: window keyed by (chunk, domain) — the
    // exchange hashes on BOTH, so a mega-domain's chunks land on
    // different tasks and each window partition is ≤ ~n/P rows.
    val w = Window.partitionBy(col("__chunk"), col("domain"))
      .orderBy(col("priority").desc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted
      .join(broadcast(offsets), Seq("__chunk", "domain"))
      .withColumn("cum_tokens", sum(col("tokens")).over(w) + col("__offset"))
      .filter(col("cum_tokens") <= col("alloc_tokens"))
      .select(col("domain"), col("id"), col("priority"), col("tokens"),
        col("cum_tokens"))
  }

  /** Measured windowed↔distributed crossover for [[budgetSelectAuto]]:
    * below ~1M rows in the largest domain the per-domain window wins
    * (one exchange, no staging); above it the range-partitioned prefix
    * form is 2.4× at 50M rows/domain and the only runnable form at
    * corpus scale (`bench/history/BENCH_local_r16_mixselect.json`, sweep at
    * 1e5/1e6/5e7 rows/domain on local[32]).
    */
  val DistDomainRowThreshold = 1000000L

  /** Form-dispatching [[budgetSelect]] (VERDICT r16 item 1): the measured
    * crossover lives HERE, not in a bench file, so a pipeline caller
    * cannot ship the single-task-sort window against a Pile-shaped
    * corpus by not reading a scaladoc.
    *
    * Probes the largest domain's row count with one aggregation over the
    * domain column alone (column pruning keeps the scan narrow; the
    * caller's priority/token kernels are NOT evaluated by the probe) and
    * picks [[budgetSelectDist]] when it exceeds
    * [[DistDomainRowThreshold]], the windowed [[budgetSelect]] otherwise.
    * Outputs are IDENTICAL either way (the partition-sweep equality spec
    * pins this), so the dispatch is a pure cost decision.
    *
    * Callers that already know their shape pass `maxDomainRowsHint` ≥ 0
    * to skip the probe job (0 or any value ≤ threshold forces windowed;
    * anything above forces dist).
    */
  def budgetSelectAuto(docs: DataFrame, domainCol: String, idCol: String,
      tokensCol: String, priorityCol: String, alloc: DataFrame,
      maxDomainRowsHint: Long = -1L): DataFrame = {
    val maxRows =
      if (maxDomainRowsHint >= 0L) maxDomainRowsHint
      else docs.groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
        .agg(coalesce(max(col("__n")), lit(0L)).as("__mx"))
        .head().getLong(0)
    if (maxRows > DistDomainRowThreshold)
      budgetSelectDist(docs, domainCol, idCol, tokensCol, priorityCol, alloc)
    else
      budgetSelect(docs, domainCol, idCol, tokensCol, priorityCol, alloc)
  }
}
