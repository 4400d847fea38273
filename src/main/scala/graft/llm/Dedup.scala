package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for a training-data pipeline: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard. Every variant is bucketed — candidate pairs come
  * from an equi-join/groupBy on a hash key, NEVER a cartesian product, so the
  * shuffle is O(n) in rows at 100 TB (VERDICT round-1 requirement).
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the lowest id. One shuffle on
    * the 256-bit hash (collision-safe at any scale; hashing first means the
    * shuffle carries 32 bytes, not document bodies... the keep-row join is a
    * second narrow pass).
    */
  def exactGroups(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))

  /** Exact dedup keeping whole rows: row_number over the content hash. */
  def exactDedup(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(sha2(col(textCol), 256)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** MinHash signature over word shingles: sig[i] = min over shingles of
    * murmur3(shingle, seed=i), as a per-row column expression. NOTE: nested
    * higher-order functions evaluate INTERPRETED (no codegen) — fine for a
    * single row/column, but candidate generation uses the explode+aggregate
    * formulation in [[minhashSignatures]], which is ~50× faster.
    */
  def minhashSignature(text: Column, numHashes: Int = 64, shingleSize: Int = 3): Column = {
    val shingles = TextAnalysis.wordNgrams(text, shingleSize)
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(shingles, s => hash(s, i))))
  }

  /** MinHash signatures via the one-pass [[graft.functions.SigKernels]]
    * kernel: the whole signature computes in one compiled loop per ROW — no
    * explode, no 64-column hash aggregate, no shuffle; at scale the
    * signature job is a pure map over the corpus. Values are bit-identical
    * to [[minhashSignature]] (HOF) and to the explode+aggregate form,
    * pinned by DedupSpec/SigKernelsSpec. Docs with fewer
    * than `shingleSize` tokens have no shingles and drop out (they cannot
    * be near-duplicates under this measure).
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      shingleSize: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.SigKernels.minhashMurmur(col(textCol), shingleSize, numHashes).as("sig"))
      .filter(col("sig").isNotNull)

  /** LSH band keys from a MinHash signature: hash of each band's slice.
    * Docs sharing any band key are candidate near-duplicates
    * (b bands × r rows; P(candidate) ≈ 1−(1−J^r)^b).
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), xxhash64(concat_ws(",",
        slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).cast("string")).as("key")))

  /** Candidate near-duplicate pairs via MinHash-LSH: explode band keys,
    * self-equi-join on (band, key) with id< id — a shuffle join on the band
    * hash, candidate count ≪ n². `estJaccard` = fraction of matching
    * signature slots (the MinHash estimator).
    */
  def minhashCandidates(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3): DataFrame =
    minhashCandidatesFromSigs(
      minhashSignatures(df, idCol, textCol, numHashes, shingleSize), numHashes, bands)

  /** Candidate generation from a precomputed (id, sig) frame. The self-join
    * evaluates its input once per side — at scale, WRITE the signatures
    * (they are the expensive part) and pass the stored table here rather
    * than recomputing them inside one plan; the plan audit (PLANS.md) shows
    * the inline form computes signatures twice.
    */
  def minhashCandidatesFromSigs(
      sigs: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    val rowsPerBand = numHashes / bands
    // Keys-first (guide §2.3, the [[minhashCandidatesFromSigsSalted]] shape):
    // the band self-join and the pair distinct move SLIM (id, band, key)
    // rows — the former one-join form carried both 64-slot signatures
    // (~0.5 KB/side) through the band exchange, 16 banded rows per doc per
    // side. Signatures re-attach per side AFTER the distinct (n-sized
    // exchanges against the usually-checkpointed sigs frame), and the
    // estimator folds once per candidate PAIR instead of once per matched
    // band row. The estimator itself is the codegen'd [[graft.functions.
    // SigImpl.eqSlots]] kernel — the zip_with/filter HOFs were
    // CodegenFallback and dropped the scoring stage out of whole-stage
    // codegen. Same candidate set, same exact est_jaccard doubles.
    val banded = sigs.select(col("id"), explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    val cand = a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val s = sigs.select(col("id"), col("sig"))
    cand
      .join(s.select(col("id").as("id_a"), col("sig").as("__sa")), "id_a")
      .join(s.select(col("id").as("id_b"), col("sig").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (graft.functions.SigKernels.eqSlotCount(col("__sa"), col("__sb"))
          .cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
  }

  /** Skew-hardened [[minhashCandidatesFromSigs]]: SAME candidate set, with
    * every band bucket split into `chunks²` join groups so one degenerate
    * band key (a boilerplate gram shared by most docs — the adversarial
    * case PLANS.md previously left to AQE) cannot funnel its K² candidate
    * pairs through one task.
    *
    * Mechanics (fragment-replicate self-join): each doc gets a hash chunk
    * `c ∈ [0, chunks)`; the left side replicates each banded row over
    * `(c, t)` for every t, the right side over `(t, c)` — the join then
    * matches a pair exactly once on `(band, key, c_left, c_right)`, and a
    * bucket of K rows decomposes into chunks² groups of (K/chunks)² work.
    * Replication happens on SLIM rows (id, band, key — the 64-slot
    * signatures are NOT replicated; the estimator re-joins them per side
    * after the distinct), so the shuffle cost is chunks × 24 B/row.
    * Total work is unchanged — this bounds the MAXIMUM task, which is what
    * decides wall-clock on a 1000-executor cluster. AQE's skew-join split
    * also mitigates this case dynamically; the salted form guarantees the
    * bound statically and composes with AQE disabled.
    */
  def minhashCandidatesFromSigsSalted(
      sigs: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      chunks: Int = 8): DataFrame = {
    require(chunks > 0, "chunks must be positive")
    val rowsPerBand = numHashes / bands
    val banded = sigs.select(col("id"),
        explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .withColumn("__c", pmod(hash(col("id")), lit(chunks)))
    val rep = sequence(lit(0), lit(chunks - 1))
    val a = banded.withColumn("__t", explode(rep))
      .select(col("id").as("id_a"), col("band"), col("key"),
        col("__c").as("__ca"), col("__t").as("__ta"))
    val b = banded.withColumn("__t", explode(rep))
      .select(col("id").as("id_b"), col("band").as("__bandb"), col("key").as("__keyb"),
        col("__t").as("__tb"), col("__c").as("__cb"))
    val cand = a.join(b,
        col("band") === col("__bandb") && col("key") === col("__keyb") &&
        col("__ca") === col("__tb") && col("__ta") === col("__cb") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val s = sigs.select(col("id"), col("sig"))
    cand
      .join(s.select(col("id").as("id_a"), col("sig").as("__sa")), "id_a")
      .join(s.select(col("id").as("id_b"), col("sig").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (graft.functions.SigKernels.eqSlotCount(col("__sa"), col("__sb"))
          .cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
  }

  /** Oracle-checkable MinHash variant: hash family
    * `h_i(g) = ((2i+1)·fp(g) + 31i+7) mod 1e9+7` over the
    * [[TextAnalysis.fingerprint]] polynomial gram hash — every step is plain
    * modular integer arithmetic, exactly reproducible in ANSI SQL (unlike
    * murmur3/xxhash64), so the whole signature pipeline can be hash-checked
    * by a DuckDB oracle. [[minhashSignatures]] (murmur3) stays the scale
    * default: stronger mixing and a codegen'd hash per slot.
    */
  def minhashSignaturesPoly(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      shingleSize: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.SigKernels.minhashPoly(col(textCol), shingleSize, numHashes).as("sig"))
      .filter(col("sig").isNotNull)

  /** Plain-text LSH band keys (the slice rendered as a string, not
    * xxhash64 of it) — reproducible in the oracle; the hashed form
    * ([[lshBandKeys]]) shuffles 8 bytes per key and is the scale default.
    */
  def lshBandKeysPlain(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), concat_ws(",",
        slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)).cast("array<string>")).as("key")))

  /** [[minhashCandidatesFromSigs]] with plain-text band keys — same join
    * shape (band/key equi-join, never all-pairs), oracle-reproducible.
    * Keys-first like the murmur form above (and for the same §2.3 reason:
    * the band exchange previously carried both 64-long signatures per
    * banded row); the old per-band-match estimator + distinct computed
    * the same pair's est once per shared band — now once per pair, via
    * the codegen'd kernel. Same pair set, same doubles.
    */
  def minhashCandidatesFromSigsPlain(
      sigs: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    val rowsPerBand = numHashes / bands
    val banded = sigs.select(col("id"),
        explode(lshBandKeysPlain(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    val cand = a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val s = sigs.select(col("id"), col("sig"))
    cand
      .join(s.select(col("id").as("id_a"), col("sig").as("__sa")), "id_a")
      .join(s.select(col("id").as("id_b"), col("sig").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (graft.functions.SigKernels.eqSlotCount(col("__sa"), col("__sb"))
          .cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
  }

  /** SimHash (64-bit): per bit position, sum +1/−1 votes of each token's
    * xxhash64 bit; the sign pattern packs into one long. Near-duplicates have
    * small Hamming distance (`bit_count(a ^ b)`). Per-row column form —
    * interpreted nested HOFs; candidate generation uses [[simhashSignatures]].
    */
  def simhash64(text: Column): Column = {
    val hashes = transform(TextAnalysis.tokensWs(text), t => xxhash64(t))
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, b) => acc + when(
        aggregate(hashes, lit(0L),
          (s, h) => s + when(call_function("shiftright", h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)) > 0,
        call_function("shiftleft", lit(1L), b)).otherwise(lit(0L)))
  }

  /** SimHash signatures via the one-pass kernel (same values as
    * [[simhash64]] and the explode+vote aggregate, pinned by
    * SigKernelsSpec): xxhash64 per token,
    * occurrence-weighted votes, sign-pack — all in one compiled loop per
    * row; no explode, no 64-column vote aggregate, no shuffle.
    */
  def simhashSignatures(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.SigKernels.simhashXx(col(textCol)).as("sim"))
      .filter(col("sim").isNotNull)

  /** Oracle-checkable SimHash variant (the [[minhashSignaturesPoly]] analog):
    * bit b of a token's hash is `(((2b+1)·fp(t) + 31b+7) mod 1e9+7) mod 2` —
    * plain modular arithmetic a DuckDB oracle reproduces exactly, so the
    * vote aggregation, sign packing and Hamming banding are hash-checked.
    * Output (id, sim) feeds [[simhashCandidatesFromSigs]] unchanged;
    * [[simhashSignatures]] (xxhash64) stays the scale default.
    */
  def simhashSignaturesPoly(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.SigKernels.simhashPoly(col(textCol)).as("sim"))
      .filter(col("sim").isNotNull)

  /** SimHash near-dup candidates via Hamming-LSH banding: the 64 bits split
    * into 4 disjoint 16-bit bands; docs sharing ANY band key are candidates
    * (explode 4 (band, key) rows per doc, equi-join on (band, key) — same
    * shape as [[minhashCandidates]]). By pigeonhole, any pair with hamming
    * ≤ 3 shares at least one intact band and is always found; h ≤ 8 pairs
    * are found unless every band is hit.
    *
    * (Round-2 bucketing on only the top 16 bits missed any pair whose
    * differing bits fell in the low 48 — ~70% of hamming-4 pairs.)
    */
  def simhashCandidates(df: DataFrame, idCol: String = "doc_id", textCol: String = "text", maxHamming: Int = 8): DataFrame =
    simhashCandidatesFromSigs(simhashSignatures(df, idCol, textCol), maxHamming)

  /** Candidate generation from a precomputed (id, sim) frame — same
    * store-the-signatures-at-scale guidance as [[minhashCandidatesFromSigs]].
    */
  def simhashCandidatesFromSigs(sigs: DataFrame, maxHamming: Int = 8): DataFrame = {
    val banded = sigs.select(col("id"), col("sim"),
      explode(transform(sequence(lit(0), lit(3)),
        b => struct(b.as("band"),
          call_function("shiftright", col("sim"), b * 16).bitwiseAND(lit(0xffffL)).as("key")))).as("bk"))
      .select(col("id"), col("sim"), col("bk.band"), col("bk.key"))
    val a = banded.alias("a"); val b = banded.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Both directions of every pair as (src, dst) longs, from ONE
    * evaluation of `pairs` (explode of a 2-struct array: a union of two
    * selects would run the upstream candidate join once per branch).
    */
  private def bothDirections(pairs: DataFrame, self: Boolean = false): DataFrame = {
    val (a, b) = (col("id_a").cast("long"), col("id_b").cast("long"))
    val dirs = Seq(struct(a.as("src"), b.as("dst")), struct(b.as("src"), a.as("dst"))) ++
      (if (self) Seq(struct(a.as("src"), a.as("dst")), struct(b.as("src"), b.as("dst"))) else Nil)
    pairs.select(explode(array(dirs: _*)).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** Connected components over near-duplicate candidate pairs, via
    * iterative min-label propagation: every node's label converges to the
    * smallest id reachable from it (= its component representative) in
    * O(graph diameter) rounds. This is the standard Spark shape for the
    * cluster step of a dedup pipeline — the frames involved are O(candidate
    * nodes/edges), far smaller than the corpus, each round is one equi-join
    * + groupBy(min), and `localCheckpoint` truncates the growing lineage so
    * round N doesn't replay rounds 1..N-1.
    *
    * Returns (id, comp) with comp = min id in the component. Near-dup
    * components are overwhelmingly tiny (pairs/small clusters), so
    * convergence is typically 2-3 rounds; `maxIter` bounds adversarial
    * chains.
    */
  def nearDupComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // The graph carries a self row (u, u) per endpoint, duplicates and all:
    // u's own row brings its current label into the min, and tells the
    // round what the old label was, so no join back to the labels is needed.
    val graph = bothDirections(pairs, self = true).localCheckpoint()
    // None: every node still labels itself (round 1 needs no join at all).
    var labels: Option[DataFrame] = None
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val withLabel = labels match {
        case None    => graph.withColumn("dcomp", col("dst"))
        case Some(l) => graph.join(l.select(col("id").as("dst"), col("comp").as("dcomp")), "dst")
      }
      // The changed flag is computed IN the round's checkpoint, so
      // convergence is a filter over the just-materialized labels.
      val updated = withLabel.groupBy(col("src").as("id"))
        .agg(min(col("dcomp")).as("comp"),
          min(when(col("src") === col("dst"), col("dcomp"))).as("__old"))
        .select(col("id"), col("comp"), (col("comp") =!= col("__old")).as("__changed"))
        .localCheckpoint()
      converged = updated.filter(col("__changed")).head(1).isEmpty
      labels = Some(updated.select(col("id"), col("comp")))
      i += 1
    }
    // Silent non-convergence would return intermediate labels and dedup
    // would keep several "representatives" of one component — fail loudly;
    // the caller raises maxIter (rounds needed = graph diameter, which for
    // near-dup graphs is tiny).
    if (!converged)
      throw new IllegalStateException(
        s"nearDupComponents did not converge in $maxIter rounds; raise maxIter " +
          "(components with diameter > maxIter exist in the candidate graph)")
    labels.get
  }

  /** Connected components by alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SOCC 2014) — the log-round alternative to [[nearDupComponents]]'s
    * min-label propagation, whose round count is the graph DIAMETER.
    * Near-dup graphs are usually shallow, but substring/boilerplate
    * chains (A~B~C~…) can be arbitrarily long, and at 100 TB a
    * 1000-round propagation is a 1000-job chain; star contraction
    * converges in O(log²) rounds regardless of diameter (the spec's
    * 64-chain closes in 4 rounds vs 64).
    *
    * Each round: large-star hangs every LARGER neighbor of u under
    * m(u) = min(Γ(u) ∪ {u}); small-star re-hangs the smaller ones; the
    * symmetric closure feeds the next round; convergence = the edge set
    * reaches a fixed point — a star forest whose centers are component
    * minima, read out as `(id, comp)` with the same semantics as
    * [[nearDupComponents]] (spec-certified equivalent).
    */
  def nearDupComponentsStar(pairs: DataFrame, maxIter: Int = 12): DataFrame = {
    // ONE evaluation of `pairs`: the node set and the first edge set both
    // derive from this checkpoint.
    val ends = bothDirections(pairs).localCheckpoint()
    val nodes = ends.select(col("src").as("id")).distinct()
    def sym(e: DataFrame): DataFrame = e
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    // Self-loops and duplicates stay: every caller closes it under sym,
    // which drops both.
    def star(edges: DataFrame, large: Boolean): DataFrame = {
      // m(u) = min(Γ(u) ∪ {u}) = min(least(dst, src)) over u's edges, as a
      // window: one shuffle by src, no aggregate joined back.
      val j = edges.withColumn("m",
        min(least(col("dst"), col("src"))).over(Window.partitionBy(col("src"))))
      if (large) j.filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
      else j.filter(col("dst") <= col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        // ... plus (u, m): small-star keeps u itself hung under its min,
        // or the star edge of a settled pair would vanish.
        .unionByName(j.select(col("src"), col("m").as("dst")))
    }
    // `ends` is symmetric already: its sym closure drops self-pairs and
    // duplicates.
    var edges = ends.filter(col("src") =!= col("dst")).distinct()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = sym(star(sym(star(edges, large = true)), large = false))
      // Fixed point: both edge sets are symmetric and distinct, so one full
      // outer join on (src, dst) marks the new edges and the gone ones, and
      // the round's checkpoint carries the flag.
      val round = next.withColumn("__next", lit(true))
        .join(edges.withColumn("__prev", lit(true)), Seq("src", "dst"), "full_outer")
        .select(col("src"), col("dst"), col("__next").isNotNull.as("__next"),
          (col("__next").isNull || col("__prev").isNull).as("__changed"))
        .localCheckpoint()
      converged = round.filter(col("__changed")).head(1).isEmpty
      edges = round.filter(col("__next")).select(col("src"), col("dst"))
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"nearDupComponentsStar did not converge in $maxIter rounds " +
          "(needs O(log² n) — raise maxIter)")
    // Star forest: children point at their center; centers label themselves.
    val parent = edges.filter(col("src") > col("dst"))
      .groupBy(col("src")).agg(min(col("dst")).as("comp"))
    nodes.join(parent.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** The keep-rows step of a full near-dedup pipeline: drop every document
    * that belongs to a candidate component but is not its representative
    * (min id). Documents with no candidate pair survive untouched — the
    * anti-join only ships the (small) non-representative id set.
    */
  def nearDupKeepRows(df: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val drop = nearDupComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Keep-BEST near-dedup: one document per near-dup cluster, chosen by a
    * caller-supplied score (quality, length, recency) with the lowest id
    * breaking ties — [[nearDupKeepRows]] keeps the min id, but when the
    * cluster holds a clean original and a boilerplate-wrapped mirror the
    * corpus should keep the CLEAN one regardless of crawl order. The
    * winner per component computes as one max-struct aggregation over
    * the (cluster-membership-sized) labeled frame — map-side partials,
    * never a window; unclustered docs survive untouched.
    */
  def nearDupKeepBest(df: DataFrame, pairs: DataFrame, scoreCol: String,
      idCol: String = "doc_id"): DataFrame = {
    // The lowest-id tie-break rides a max-struct over (score, -id); with a
    // non-numeric id the negation would cast to null and the anti-join
    // below would silently drop ENTIRE clusters including their winners.
    val idType = df.schema(idCol).dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"nearDupKeepBest needs a numeric $idCol for the lowest-id tie-break; got $idType")
    val comps = nearDupComponents(pairs).withColumnRenamed("id", idCol)
    val member = df.select(col(idCol), col(scoreCol)).join(comps, Seq(idCol))
    val winners = member.groupBy(col("comp"))
      .agg(max(struct(col(scoreCol), (-col(idCol)).as("__negid"))).as("__w"))
      .select((-col("__w.__negid")).as(idCol))
    val losers = comps.join(winners, Seq(idCol), "left_anti")
      .select(col(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Soft dedup: instead of DROPPING near-duplicates, down-weight them —
    * every member of a near-dup cluster trains at `10⁶ div |cluster|`
    * micro-weight, so the cluster as a whole contributes one document's
    * worth of gradient while keeping its internal variation (the
    * SlimPajama/D4-era alternative when hard dedup loses benign
    * variants). Documents in no cluster keep weight 10⁶. Integer
    * truncating division — exact in any engine.
    *
    * Output: `(idCol, comp, cluster_size, weight_micro)` for EVERY input
    * doc (singletons get their own id as comp). The components close via
    * [[nearDupComponents]]; sizes aggregate on the component frame
    * (cluster-count-sized, not corpus-sized).
    */
  def softDedupWeights(df: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val comps = nearDupComponents(pairs)
    val sizes = comps.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    val labeled = comps.join(sizes, "comp").withColumnRenamed("id", idCol)
    df.select(col(idCol))
      .join(labeled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("comp"), col(idCol).cast("long")).as("comp"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("weight_micro", expr("1000000 div cluster_size"))
  }

  /** Leakage-safe train/holdout split: the split coin derives from the
    * NEAR-DUP COMPONENT representative, not the document id, so a
    * near-duplicate of a training document can never land in the holdout
    * (the classic eval-leakage failure a doc-keyed hash split commits).
    * Deterministic: coin = `fp(comp ⊔ ":split") mod 1000 <
    * holdoutPermille` via the certified poly fingerprint — reproducible
    * cross-engine, layout-independent, and every cluster member shares
    * its representative's coin by construction.
    */
  def leakproofSplit(df: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", holdoutPermille: Long = 100L): DataFrame = {
    require(holdoutPermille >= 0 && holdoutPermille <= 1000,
      s"holdoutPermille must be in [0, 1000]: $holdoutPermille")
    val comps = nearDupComponents(pairs).withColumnRenamed("id", idCol)
    df.select(col(idCol))
      .join(comps, Seq(idCol), "left")
      .withColumn("comp", coalesce(col("comp"), col(idCol).cast("long")))
      .withColumn("split",
        when(pmod(TextAnalysis.fingerprint(
            concat(col("comp").cast("string"), lit(":split"))),
          lit(1000L)) < holdoutPermille, lit("holdout"))
          .otherwise(lit("train")))
  }

  /** The persisted face of exact dedup on a ROLLING corpus: one 32-byte
    * row per distinct content hash. Write this once per ingested batch
    * (append the survivors' hashes) and the next batch dedups against the
    * whole corpus history without ever touching prior document bodies.
    */
  def hashCatalog(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(sha2(col(textCol), 256).as("content_hash")).distinct()

  /** Incremental exact dedup: admit only batch documents whose content is
    * (a) first within the batch (row_number over the content hash) and
    * (b) absent from the persisted catalog (anti-join on the 32-byte key).
    * This is how a continuously-crawled corpus stays exact-deduped without
    * re-processing history: the catalog grows by [[hashCatalog]] of each
    * batch's survivors, and each ingest is one hash-keyed anti-join —
    * prior batches' bodies are never read again. When the batch is much
    * smaller than the catalog, `graft.ops.BloomPrune` composes in front to
    * cut the catalog scan to probable matches.
    */
  def exactDedupIncremental(batch: DataFrame, catalog: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(sha2(col(textCol), 256)).orderBy(col(idCol))
    batch.withColumn("__h", sha2(col(textCol), 256))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .join(catalog.select(col("content_hash").as("__h")), Seq("__h"), "left_anti")
      .drop("__h", "__rn")
  }

  /** Source-precedence exact dedup — the multi-source ingest discipline
    * (the Pile/Dolma shape): when the same content arrives from several
    * sources, keep the copy from the most-trusted source, not the lowest
    * id. `priority` lists sources best-first; unlisted sources rank below
    * every listed one (rank = priority.size) and tie-break by (source, id)
    * so the winner is a total function of the data — no ingest-order or
    * partition-order dependence.
    *
    * Scale shape: ONE min-struct aggregation keyed on the 32-byte content
    * hash. Partial aggregation absorbs hot boilerplate content map-side
    * (a window over the hash would ship every copy of a mega-duplicated
    * page to one task); the rank is a literal when-chain that rides along
    * codegen'd, nothing is broadcast or collected.
    */
  def sourcePriorityWinners(df: DataFrame, priority: Seq[String],
      textCol: String = "text", srcCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    require(priority.nonEmpty, "need at least one prioritized source")
    require(priority.distinct.size == priority.size,
      s"duplicate source in priority list: ${priority.diff(priority.distinct).mkString(", ")}")
    val rank = priority.zipWithIndex.foldRight(lit(priority.size): Column) {
      case ((s0, i), els) => when(col(srcCol) === s0, lit(i)).otherwise(els)
    }
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(struct(rank.as("__rank"), col(srcCol).as("__src"),
          col(idCol).as("__id"))).as("__w"),
        count(lit(1)).as("copies"))
      .select(col("content_hash"), col("__w.__id").as("keep_id"),
        col("__w.__src").as("keep_source"), col("copies"))
  }

  /** [[sourcePriorityWinners]] keeping whole rows: the winner set is a
    * slim (hash, id) frame, semi-joined back — at scale the join key is
    * the content hash both sides already carry, and the winners side is
    * one row per DISTINCT content.
    */
  def dedupBySourcePriority(df: DataFrame, priority: Seq[String],
      textCol: String = "text", srcCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val winners = sourcePriorityWinners(df, priority, textCol, srcCol, idCol)
      .select(col("content_hash").as("__h"), col("keep_id").as("__kid"))
      .alias("w")
    df.withColumn("__h", sha2(col(textCol), 256)).alias("l")
      .join(winners,
        col("l.__h") === col("w.__h") && col(s"l.$idCol") === col("w.__kid"),
        "left_semi")
      .drop("__h")
  }

  /** Cross-corpus MinHash candidates: batch signatures vs a PERSISTED
    * catalog of prior-batch signatures, equi-joined on exploded (band, key)
    * — the incremental twin of [[minhashCandidatesFromSigs]] (same banding,
    * same slim-pair shuffle discipline), for near-dup dedup of a new crawl
    * batch against corpus history without an all-pairs pass.
    */
  def minhashIncrementalCandidates(batchSigs: DataFrame, catalogSigs: DataFrame,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val rowsPerBand = numHashes / bands
    // Keys-first like the batch forms above: the band equi-join and the
    // pair distinct move slim (id, band, key) rows; signatures re-attach
    // per side after the distinct and the estimator folds once per pair
    // through the codegen'd kernel. Same pairs, same doubles.
    def banded(s: DataFrame) = s
      .select(col("id"), explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
    val a = banded(batchSigs).alias("a")
    val b = banded(catalogSigs).alias("b")
    val cand = a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.id").as("id_batch"), col("b.id").as("id_catalog"))
      .distinct()
    cand
      .join(batchSigs.select(col("id").as("id_batch"), col("sig").as("__sa")), "id_batch")
      .join(catalogSigs.select(col("id").as("id_catalog"), col("sig").as("__sb")), "id_catalog")
      .select(col("id_batch"), col("id_catalog"),
        (graft.functions.SigKernels.eqSlotCount(col("__sa"), col("__sb"))
          .cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
  }

  /** Incremental near-dup dedup: drop every batch document whose signature
    * confirms (estimated Jaccard ≥ threshold) against ANY catalog
    * signature. Candidates come from the band equi-join, the confirm is the
    * positional-agreement estimate, and only the (small) drop-id set ships
    * into the anti-join — prior batches are represented purely by their
    * stored signatures.
    */
  def minhashDedupIncremental(batch: DataFrame, batchSigs: DataFrame,
      catalogSigs: DataFrame, threshold: Double,
      numHashes: Int = 64, bands: Int = 16,
      idCol: String = "doc_id"): DataFrame = {
    val drop = minhashIncrementalCandidates(batchSigs, catalogSigs, numHashes, bands)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_batch").as(idCol)).distinct()
    batch.join(drop, Seq(idCol), "left_anti")
  }

  /** Pairwise exact-content overlap between labeled sources — the leakage
    * audit a multi-source corpus runs before training (is the eval set in
    * the crawl? do two vendors resell the same scrape?). Each (content,
    * source) pair reduces to a 32-byte hash BEFORE the self equi-join on
    * the hash (never on bodies, never all-pairs), and only source pairs
    * with at least one shared document materialize. `source_a < source_b`
    * emits each unordered pair once.
    */
  def overlapMatrix(df: DataFrame, sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val hs = df.select(sha2(col(textCol), 256).as("h"),
      col(sourceCol).cast("string").as("src")).distinct()
    val a = hs.alias("a"); val b = hs.alias("b")
    a.join(b, col("a.h") === col("b.h") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** n-gram Jaccard near-dup: candidates from a cheap blocking key, then
    * exact Jaccard on word n-gram sets. Exposed with explicit blocking to
    * stay O(candidates), not O(n²).
    *
    * Formulated at GRAM level: explode each doc's distinct n-grams, self
    * equi-join on (block, gram), count shared grams per pair, and derive
    * |∪| = |A| + |B| − |∩|. Everything is codegen'd (the earlier form
    * shipped whole gram arrays into the join and intersected them in an
    * interpreted HOF per candidate — ~5× slower and O(array) shuffle bytes
    * per candidate instead of O(1) per shared gram). Pairs with zero shared
    * grams never materialize, which coincides with the output filter for
    * any threshold > 0.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      blockKey: Column,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      threshold: Double = 0.8): DataFrame =
    ngramJaccardFromGrams(preparedNgrams(df, blockKey, idCol, textCol, n), threshold)

  /** The gram side of [[ngramJaccardPairs]]: (id, block, gram) rows with the
    * per-doc distinct-gram count attached. The gram SET builds in one
    * compiled kernel pass per row ([[graft.functions.SigKernels]]) and `ng`
    * is its size BEFORE the explode — no distinct, no count window, no
    * shuffle on the gram universe (the round-4 posexplode+lead form paid a
    * token-level window sort plus a distinct plus a count window). The
    * self-join evaluates its input once per side — materialize this
    * (localCheckpoint, or a stored table at scale) and pass it to
    * [[ngramJaccardFromGrams]], the same store-the-expensive-part seam as
    * `*CandidatesFromSigs`.
    */
  def preparedNgrams(
      df: DataFrame,
      blockKey: Column,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3): DataFrame =
    df.select(col(idCol).as("id"), blockKey.as("block"),
        graft.functions.SigKernels.wordNgramsDistinct(col(textCol), n).as("__gs"))
      .withColumn("ng", size(col("__gs")))
      .select(col("id"), col("block"), explode(col("__gs")).as("gram"), col("ng"))

  /** Homoglyph skeleton (UTS #39 confusable-skeleton reduced to the
    * high-traffic core): Cyrillic and Greek lookalikes fold onto their
    * Latin shapes, zero-width/joiner characters strip, and the result
    * lowercases — so "pа**у**pal" with Cyrillic а/у skeletonizes equal to
    * "paypal". Spam/SEO mills homoglyph-mutate duplicated content
    * precisely to defeat exact hashing; dedup (and URL/brand matching)
    * must run on the skeleton, not the raw text. Pure `translate` +
    * `regexp_replace` — codegen'd, replayed verbatim by SQL `translate`.
    *
    * Order matters: LOWERCASE FIRST, then translate. Unicode `lower` folds
    * uppercase Cyrillic/Greek confusables (А Е О Р С Т Х, Greek Α Ο …)
    * onto the lowercase forms the table covers — translate-then-lower
    * would let an upper-cased mutant ("PАYPAL" with Cyrillic А) sail past
    * the fold, the exact adversarial input this function exists to catch.
    */
  def homoglyphSkeleton(text: Column): Column = {
    // Cyrillic а в е к м н о р с т у х ѕ і ј ԁ ɡ + Greek α ο ν ε ι κ ρ τ υ χ
    val from = "авекмнорст" +
      "ухѕіјԁɡ" +
      "αονεικρτυχ"
    val to = "abekmhopctyxsijdg" + "aoveikptyx"
    regexp_replace(translate(lower(text), from, to),
      "[\\u200b\\u200c\\u200d\\ufeff]", "")
  }

  /** Exact dedup on the homoglyph skeleton: visually-identical mutants
    * collapse into one group, first id kept. Same 32-byte-hash shuffle
    * discipline as [[exactDedup]] — the skeleton never shuffles, its
    * sha2 does.
    */
  def homoglyphDedup(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(sha2(homoglyphSkeleton(col(textCol)), 256))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("keep", col("__rn") === 1)
      .drop("__rn")
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): from each document's positioned
    * word-n-gram fingerprint stream, every window of `w` consecutive
    * grams selects its minimal fingerprint (ties → rightmost), and the
    * distinct selected positions are the document's fingerprint sketch.
    * The guarantee local sampling schemes (0 mod p) lack: any shared run
    * of ≥ w+n−1 tokens between two documents yields at least one shared
    * SELECTED fingerprint, at an expected density of 2/(w+1) of the gram
    * stream.
    *
    * Relational form — ONE window pass, no self-join: each (fp, pos) pair
    * encodes as `fp · 2²² + (2²²−1 − pos)` so a plain `min` over the
    * w-row following frame IS the rightmost-argmin (min fp wins, then
    * max pos), and a frame `count(*) = w` gates incomplete tail windows.
    * Positions are bounded below 2²² ≈ 4.2M grams per document — beyond
    * any sane document length (upstream length gates run first); the
    * fingerprint itself is the certified poly fold (< 10⁹+7), so the key
    * stays under 2⁵² and the encoding is collision-free.
    *
    * Documents with fewer than `w` grams contribute no fingerprints (no
    * complete window — the paper's semantics).
    *
    * Output: `(id, pos, fp)` distinct selected fingerprints, the stored
    * sketch a near-dup join runs against ([[winnowCandidates]]).
    */
  def winnowFingerprints(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, w: Int = 4): DataFrame = {
    require(w >= 2, s"window must hold at least 2 grams: $w")
    val fps = df.select(col(idCol).as("id"),
      posexplode(graft.functions.SigKernels.wordNgramFps(col(textCol), n))
        .as(Seq("pos", "fp")))
    // The pos < 2²² encoding bound is ENFORCED, not assumed: an oversized
    // document would otherwise borrow from the fp bits and silently
    // poison the sketch catalog with corrupted fingerprints. Fail loudly;
    // upstream length gates are where such documents get dropped.
    val enc = fps.withColumn("__key",
      when(col("pos") < lit(4194304L),
          col("fp") * lit(4194304L) + (lit(4194303L) - col("pos")))
        .otherwise(raise_error(concat(lit("winnowFingerprints: document "),
          col("id").cast("string"),
          lit(" exceeds 2^22 grams; gate document length upstream")))))
    val frame = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    enc
      .withColumn("__min", min(col("__key")).over(frame))
      .withColumn("__n", count(lit(1)).over(frame))
      .filter(col("__n") === w)
      .select(col("id"),
        (lit(4194303L) - pmod(col("__min"), lit(4194304L))).as("pos"),
        expr("__min div 4194304").as("fp"))
      .distinct()
  }

  /** Near-dup candidate pairs from stored winnowing sketches: documents
    * sharing at least `minShared` distinct selected fingerprints. The
    * equi-join carries slim (fp → id) rows and only materializes pairs
    * that actually share a fingerprint; a boilerplate fingerprint hot
    * key is the usual hazard — gate known-boilerplate spans upstream
    * (SubstringDedup) or raise `minShared`. Candidates feed an exact
    * confirm ([[ngramJaccardFromGrams]] / string compare) — winnowing
    * SELECTS evidence, it never asserts duplication alone.
    */
  def winnowCandidates(fps: DataFrame, minShared: Long = 2L,
      maxDf: Option[Long] = None): DataFrame = {
    val d0 = fps.select(col("id"), col("fp")).distinct()
    // Optional hot-fingerprint posting-list cap: the self-join's pair
    // volume per fingerprint is df², and a fingerprint shared by more
    // than `maxDf` documents is vocabulary-level, not duplication
    // evidence — true near-dup pairs share many RARE fingerprints
    // (minShared guards the rest). MEASURE before enabling: on the
    // synthetic sf10 corpus the df-count window sort over the 50M-row
    // posting list cost MORE than the df² fan-out it removed (330 s
    // capped vs 242 s uncapped) — the cap pays off only when hot phrases
    // genuinely dominate the pair volume (boilerplate-heavy web corpora).
    val d = maxDf.fold(d0) { cap =>
      d0.withColumn("__df",
          count(lit(1)).over(Window.partitionBy(col("fp"))))
        .filter(col("__df") <= cap).drop("__df")
    }
    val a = d.alias("a"); val b = d.alias("b")
    a.join(b, col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Incremental winnowing: match a BATCH's sketches against a PERSISTED
    * catalog of sketches — the daily-crawl shape for the MOSS family
    * (store [[winnowFingerprints]] per release; each ingest joins only
    * its delta against stored fingerprints, never re-sketching history).
    * Same fp equi-join and shared-run guarantee as [[winnowCandidates]],
    * cross-frame: output `(batch_id, catalog_id, n_shared)`.
    */
  def winnowIncrementalCandidates(batchFps: DataFrame, catalogFps: DataFrame,
      minShared: Long = 2L): DataFrame = {
    val bd = batchFps.select(col("id").as("batch_id"), col("fp")).distinct()
    val cd = catalogFps.select(col("id").as("catalog_id"), col("fp")).distinct()
    bd.join(cd, "fp")
      .groupBy(col("batch_id"), col("catalog_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Self-Instruct pool-admission gate (Wang et al. 2022): a generated
    * instruction joins the pool only if its ROUGE overlap with EVERY
    * existing pool instruction stays below threshold — the dedup that
    * keeps a bootstrapped instruction corpus diverse. The paper scores
    * ROUGE-L; this relational form scores set-based ROUGE-2 F1, the
    * standard cheap proxy (LCS needs an O(len²) DP per PAIR — nothing an
    * equi-join can express — while bigram F1 is one gram join):
    *
    *   f1_micro = 2 · |bigrams_c ∩ bigrams_p| · 10⁶ div (|bigrams_c| + |bigrams_p|)
    *
    * Pure integer, truncating division — exact in any engine.
    *
    * Output: one row per candidate — `(id, best_pool_id, f1_micro, keep)`
    * where `best_pool_id` is the argmax pool match (ties: lowest pool id;
    * null when no bigram is shared — f1 0) and `keep = f1 < thrMicro`.
    *
    * Shape at scale: distinct bigram sets build in one kernel pass per row
    * ([[graft.functions.SigKernels]]); the candidate×pool gram equi-join
    * carries slim (id, gram) rows and only materializes pairs sharing a
    * gram; the argmax is a max-struct aggregation (map-side partials — no
    * window over the pair fan-out). Candidates are the DELTA (one
    * generation round) joining a persisted pool, so join volume is
    * batch-bounded; a stopword-heavy pool can additionally block the join
    * on a cheap key (length bucket) the way [[ngramJaccardPairs]] does.
    */
  def rouge2Gate(pool: DataFrame, cands: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      thrMicro: Long = 700000L): DataFrame = {
    // Same max-struct-over-(score, -id) argmax as nearDupKeepBest: the
    // lowest-pool-id tie-break needs a numeric id or the negation nulls.
    val idType = pool.schema(idCol).dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"rouge2Gate needs a numeric $idCol for the lowest-id tie-break; got $idType")
    def grams(df: DataFrame, side: String) =
      df.select(col(idCol).as(s"${side}_id"),
          graft.functions.SigKernels.wordNgramsDistinct(col(textCol), 2).as("__gs"))
        .withColumn(s"${side}_ng", size(col("__gs")))
        .select(col(s"${side}_id"), explode(col("__gs")).as("gram"),
          col(s"${side}_ng"))
    val pg = grams(pool, "p")
    val cg = grams(cands, "c")
    val scored = cg.join(pg, "gram")
      .groupBy(col("c_id"), col("p_id"))
      .agg(count(lit(1)).as("__inter"),
        max(col("c_ng")).as("__nc"), max(col("p_ng")).as("__np"))
      .select(col("c_id"), col("p_id"),
        expr("2 * __inter * 1000000 div (__nc + __np)").as("f1_micro"))
    val best = scored.groupBy(col("c_id"))
      .agg(max(struct(col("f1_micro"), (-col("p_id")).as("__negp"))).as("__b"))
      .select(col("c_id"), (-col("__b.__negp")).as("best_pool_id"),
        col("__b.f1_micro").as("f1_micro"))
    cands.select(col(idCol).as("id"))
      .join(best, col("id") === col("c_id"), "left")
      .select(col("id"), col("best_pool_id"),
        coalesce(col("f1_micro"), lit(0L)).as("f1_micro"))
      .withColumn("keep", col("f1_micro") < thrMicro)
  }

  /** Containment pairs from a prepared (id, block, gram, ng) frame —
    * the ASYMMETRIC overlap Jaccard structurally misses: an aggregator
    * page that embeds a whole smaller document scores containment
    * |∩| / min(|A|, |B|) ≈ 1 while its Jaccard (union-normalized)
    * shrinks with the wrapper size. Quote/aggregator/scraper detection
    * filters on containment, not Jaccard (Broder's original distinction).
    * Same gram equi-join as [[ngramJaccardFromGrams]]; both measures
    * returned so callers can require high containment AND low Jaccard
    * (the "embedded, not duplicated" signature).
    */
  def ngramContainmentFromGrams(prepped: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0, "gram-join formulation emits only pairs sharing >= 1 gram")
    val a = prepped.alias("a"); val b = prepped.alias("b")
    a.join(b, col("a.block") === col("b.block") && col("a.gram") === col("b.gram") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("__inter"), max(col("a.ng")).as("__na"), max(col("b.ng")).as("__nb"))
      .select(col("id_a"), col("id_b"),
        (col("__inter").cast("double") /
          least(col("__na"), col("__nb")).cast("double")).as("containment"),
        (col("__inter").cast("double") /
          (col("__na") + col("__nb") - col("__inter").cast("double")).cast("double")).as("jaccard"))
      .filter(col("containment") >= threshold)
  }

  /** Loud input-size guard for the blocked all-pairs gram baselines
    * (PLANS-33 bounded-batch discipline): the gram self-join's pair volume
    * grows quadratically with block population, so the exact-Jaccard /
    * containment shapes are ORACLE BASELINES for the MinHash/LSH scale
    * path, never the corpus path themselves. Applied to the DOC frame
    * BEFORE gram expansion — one cheap narrow count job — then a refusal
    * past the cap: a silent corpus-sized invocation is the one failure
    * mode a certification query must not have. Returns the frame
    * unchanged so it threads into preparedNgrams.
    */
  def requireBoundedDocs(docs: DataFrame, maxDocs: Long,
      scalePath: String): DataFrame = {
    val n = docs.count()
    require(n <= maxDocs,
      s"all-pairs gram baseline refused: $n docs > cap $maxDocs. " +
        s"This quadratic shape is a certification baseline; at corpus " +
        s"scale use $scalePath.")
    docs
  }

  /** Candidate pairs + exact Jaccard from a prepared (id, block, gram, ng)
    * frame.
    */
  def ngramJaccardFromGrams(prepped: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0, "gram-join formulation emits only pairs sharing >= 1 gram")
    val a = prepped.alias("a"); val b = prepped.alias("b")
    a.join(b, col("a.block") === col("b.block") && col("a.gram") === col("b.gram") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("__inter"), max(col("a.ng")).as("__na"), max(col("b.ng")).as("__nb"))
      .select(col("id_a"), col("id_b"),
        // same op order as TextAnalysis.jaccard: |∩| / (|A| + |B| − |∩|)
        (col("__inter").cast("double") /
          (col("__na") + col("__nb") - col("__inter").cast("double")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
