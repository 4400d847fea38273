package graft.queries

import org.apache.spark.sql.functions._
import graft.llm.{Redaction, Relevance}
import graft.ops.{BloomPrune, Profiling, RangeJoin, Sampling}
import QueryUtil._

/** Driver-contract queries for the round-6 scale operators: bloom-prune
  * join, bucketized range join, deterministic sampling, TF-IDF/BM25
  * relevance, PII redaction, profiling.
  *
  * Oracle notes (the QueryUtil exactness discipline):
  *  - bloom/range joins: the operator contract is "exactly the plain
  *    join" — the oracle IS the plain join, so a hash match certifies the
  *    pruning/bucketing machinery end to end;
  *  - sampling: the Knuth multiplicative mix is plain modular arithmetic,
  *    re-derived textually in SQL (and bijective mod 2^32, so rank order
  *    has no ties to break);
  *  - TF-IDF/BM25: transcendental (ln) kernels round to 6 decimals
  *    (per-term, pre-sum for BM25 — integer micro-units keep the cross-row
  *    sum order-independent);
  *  - redaction: RE2-compatible patterns mean the same in Java regex and
  *    DuckDB.
  */
object ScaleQueries {

  private val bm25Terms = Seq("join", "hash", "filter")

  def queries: Map[String, Q] = Map(
    "q_join_bloom" -> ((s, dir) => {
      // Selective fact⋈dim: ~20% of orders survive the dim filter, so the
      // bloom probe prunes ~80% of lineitem before the shuffle. Result
      // must equal the plain join (no false negatives + exact join).
      val dim = ord(s, dir).filter(col("o_orderpriority") === "1-URGENT")
      BloomPrune.prunedJoin(li(s, dir), dim, "l_orderkey", "o_orderkey",
          expectedItems = 200000)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    "q_join_range" -> ((s, dir) => {
      // Point-in-interval: 1%-sampled orders define width-1000 price
      // intervals (folded into the l_extendedprice domain); every lineitem
      // price is a point. Bucketized equi-join, never a nested loop.
      val ivals = ord(s, dir).filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") % 100000.0).as("lo"))
        .withColumn("hi", col("lo") + 1000.0)
      RangeJoin.pointInInterval(
          li(s, dir).select(col("l_extendedprice")), col("l_extendedprice"),
          ivals, col("lo"), col("hi"), bucketWidth = 1000.0)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderkey"))
    }),

    "q_join_interval" -> ((s, dir) => {
      // Interval×interval overlap: two order-derived interval sets (integer
      // bounds → exact predicate), bucketized equi-join with canonical-
      // bucket dedupe — no nested loop, no distinct.
      val a = ord(s, dir).filter(col("o_orderkey") % 37 === 0)
        .select(col("o_orderkey").as("a_key"),
          ((col("o_orderkey") % 1000) * 10).cast("double").as("a_lo"),
          ((col("o_orderkey") % 1000) * 10 + (col("o_orderkey") % 5) * 30 + 20)
            .cast("double").as("a_hi"))
      val b = ord(s, dir).filter(col("o_orderkey") % 41 === 0)
        .select(col("o_orderkey").as("b_key"),
          ((col("o_orderkey") % 900) * 11).cast("double").as("b_lo"),
          ((col("o_orderkey") % 900) * 11 + (col("o_orderkey") % 7) * 25 + 15)
            .cast("double").as("b_hi"))
      RangeJoin.intervalOverlap(a, col("a_lo"), col("a_hi"),
          b, col("b_lo"), col("b_hi"), bucketWidth = 128.0)
        .select(col("a_key"), col("b_key"))
        .orderBy(col("a_key"), col("b_key"))
    }),

    "q_sample_hash" -> ((s, dir) =>
      // Deterministic 10% Bernoulli keyed on l_orderkey: a pure map-side
      // filter (scan → filter, no shuffle), stable under any layout.
      Sampling.hashSample(li(s, dir), col("l_orderkey"), num = 1, den = 10)
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "q_sample_strat" -> ((s, dir) =>
      // 100 rows per l_returnflag stratum picked by hash order. The row key
      // (orderkey*8+linenumber) is unique and the mix is bijective mod
      // 2^32, so the pick is tie-free and layout-independent.
      Sampling.stratifiedFirstN(li(s, dir), Seq("l_returnflag"),
          col("l_orderkey") * 8 + col("l_linenumber"), n = 100)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))),

    "q_sample_weighted" -> ((s, dir) => {
      // Domain-mixture downsampling: per-source token budgets (a rule of
      // the source number so the oracle re-derives it), keep gate is the
      // exact integer comparison mix·T_s < B_s·2^32 — scan → broadcast-join
      // → filter, the corpus never shuffles.
      val budgets = (0 until 20).map(i => s"src$i" -> (400L + 150L * (i % 5))).toMap
      Sampling.weightedByTokenBudget(docs(s, dir), "source", col("doc_id"),
          graft.llm.TextAnalysis.tokenCount(col("text")), budgets)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    "q_sample_temperature" -> ((s, dir) => {
      // α=1/2 temperature mixing: budgets ∝ ⌊√tokens⌋ of each source,
      // normalized to a 20k-token global budget, then the standard
      // token-budget keep gate. Integer after the (engine-identical IEEE)
      // sqrt, so no summation-order ulp can flip a budget.
      val d = docs(s, dir)
      val nt = graft.llm.TextAnalysis.tokenCount(col("text"))
      Sampling.weightedByTokenBudgetDf(d, "source", col("doc_id"), nt,
          Sampling.temperatureBudgets(d, "source", nt, globalBudget = 20000L))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    "q_sample_doremi" -> ((s, dir) => {
      // DoReMi exponentiated-gradient domain reweighting: per-doc proxy/
      // reference losses planted with a per-domain excess gradient
      // (domain d trails the reference by ~d·60000µ on average), so the
      // updated mixture upweights high-excess domains. The exp runs in
      // fixed-point integer arithmetic (FixedPointExp — same Taylor
      // steps in both engines), everything else is integer — the k-row
      // weight table hash-matches the sequential oracle by construction.
      val d = docs(s, dir).select((col("doc_id") % 6).as("domain"),
        ((col("doc_id") * 7919) % 900000 + (col("doc_id") % 6) * 60000).as("proxy_micro"),
        ((col("doc_id") * 104729) % 900000).as("ref_micro"))
      graft.llm.DomainSelection.doremiStep(d, "domain", "proxy_micro",
          "ref_micro", etaMicro = 1000000L, smoothMicro = 100000L)
        .orderBy(col("domain"))
    }),

    "q_sample_epochs" -> ((s, dir) =>
      // Epoch up-sampling: src0 runs 2.5 epochs, src1 exactly 3, src2
      // thins to 0.7, src3 drops, the rest pass at 1 — realized copies
      // keyed on doc_id, each tagged with its 0-based epoch index.
      // Broadcast factor join + map-side explode; the corpus never
      // shuffles.
      Sampling.upsampleEpochs(docs(s, dir).select(col("doc_id"), col("source")),
          "source", col("doc_id"),
          Map("src0" -> 2500L, "src1" -> 3000L, "src2" -> 700L, "src3" -> 0L))
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))),

    "q_text_tfidf" -> ((s, dir) =>
      Relevance.tfidfTopK(docs(s, dir), "doc_id", "text", k = 5)
        .orderBy(col("id"), col("term"))),

    "q_pipeline_rag" -> ((s, dir) => {
      // RAG indexing end to end: context-window chunking → chunk-text
      // dedup (first (doc, idx) occurrence — the %6 clones' chunks all
      // drop) → BM25 over the surviving PASSAGES → global top-10 by
      // score (TakeOrdered, never a full sort). Every stage is the
      // registry operator, composed; the oracle replays chunking, the
      // dedup window and the BM25 chain over the chunk corpus.
      val aug = docs(s, dir).select(col("doc_id"), col("text"))
        .unionByName(docs(s, dir).filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 50000L).as("doc_id"), col("text")))
      val chunks = graft.llm.TextAnalysis.chunkByTokens(aug, "doc_id", "text",
        chunkTokens = 32, overlapTokens = 8)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(sha2(col("chunk_text"), 256))
        .orderBy(col("doc_id"), col("chunk_idx"))
      val passages = chunks.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select((col("doc_id") * 1000 + col("chunk_idx")).as("passage_id"),
          col("chunk_text"))
      Relevance.bm25(passages, "passage_id", "chunk_text", bm25Terms)
        .orderBy(col("score_micro").desc, col("id"))
        .limit(10)
    }),

    "q_text_bm25" -> ((s, dir) =>
      Relevance.bm25(docs(s, dir), "doc_id", "text", bm25Terms)
        .orderBy(col("id"))),

    "q_text_retrieval_eval" -> ((s, dir) => {
      // Retrieval-eval harness (the RAG / retrieval-training data-quality
      // report): BM25 top-10 per query, judged against closed-form
      // relevance (a doc is relevant iff it contains EVERY query term —
      // same tokenizer as the scorer), scored as recall/precision@10, MRR
      // and nDCG@10 in integer micro-units. Rank shape is scale-correct:
      // global orderBy.limit(k) (TakeOrdered — no full sort) per query,
      // then row_number over the k-row frame only.
      val d = docs(s, dir)
      val qs = Seq(0L -> Seq("join", "hash"), 1L -> Seq("filter", "scan"),
        2L -> Seq("window", "sort"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score_micro").desc, col("id"))
      val ranked = qs.map { case (qid, terms) =>
        Relevance.bm25(d, "doc_id", "text", terms)
          .orderBy(col("score_micro").desc, col("id")).limit(10)
          .withColumn("rank", row_number().over(w).cast("long"))
          .select(lit(qid).as("query_id"), col("id"), col("rank"))
      }.reduce(_ unionByName _)
      val judgments = qs.map { case (qid, terms) =>
        d.filter(terms.map(t =>
            array_contains(Relevance.tokens(col("text")), t)).reduce(_ && _))
          .select(lit(qid).as("query_id"), col("doc_id").as("id"))
      }.reduce(_ unionByName _)
      Relevance.rankingMetrics(ranked, judgments, k = 10)
        .orderBy(col("query_id"))
    }),

    "q_safety_canary" -> ((s, dir) =>
      // Secret-sharer canary audit: canary 0 planted once on doc_id%23,
      // twice on doc_id%46 (the %23 branch composes), canary 1 once on
      // doc_id%31 — exact substring counts via length arithmetic, hits
      // only. One codegen'd map + explode, no shuffle before the
      // determinism sort.
      graft.llm.Redaction.canaryScan(
          docs(s, dir).select(col("doc_id"), concat(col("text"),
            when(col("doc_id") % 23 === 0, lit(" CANARY-zq7-000123")).otherwise(lit("")),
            when(col("doc_id") % 46 === 0, lit(" CANARY-zq7-000123")).otherwise(lit("")),
            when(col("doc_id") % 31 === 0, lit(" probe-vx9-88")).otherwise(lit("")))
            .as("text")),
          "doc_id", "text", Seq("CANARY-zq7-000123", "probe-vx9-88"))
        .orderBy(col("doc_id"), col("canary_idx"))),

    "q_text_redact" -> ((s, dir) => {
      // The corpus carries no PII, so plant one email, one IP and one phone
      // per doc deterministically; redact and hash-compare the full
      // redacted text plus per-category counts.
      val planted = docs(s, dir).select(col("doc_id"), concat(
        col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@example.com via 10.0.0."), (col("doc_id") % 256).cast("string"),
        lit(" or +1 555 01"), lpad((col("doc_id") % 100).cast("string"), 2, "0")
      ).as("text"))
      // Sort FIRST (finding 51): the redacted output is input-sized, so
      // the range exchange carries the same bytes either way — sorting
      // below the regex chains runs them once instead of twice (the
      // sampling pass re-executes a pure-map child in full).
      Redaction.redact(planted.orderBy(col("doc_id")), "text")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          col("redacted"))
    }),

    "q_profile_summary" -> ((s, dir) =>
      Profiling.summarize(li(s, dir),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_partkey"))
        .orderBy(col("column"))),

    "q_profile_quantiles" -> ((s, dir) =>
      // Sketch-vs-exact rank-error certificate (the q_approx_distinct
      // pattern): deterministic for a given dataset, constant oracle.
      Profiling.quantileCert(li(s, dir), "l_extendedprice",
        Seq(0.25, 0.5, 0.9, 0.99), accuracy = 1000)),

    "q_profile_heavy" -> ((s, dir) =>
      Profiling.heavyHitters(li(s, dir), "l_partkey", minShare = 0.0005)),

    "q_profile_cms" -> ((s, dir) =>
      // Bounded-memory heavy hitters over the token stream: CMS grid
      // prefilter (32 KB state at any cardinality) + exact confirm over
      // only the cleared slice. CMS never under-counts, so the output is
      // bit-identical to the exact aggregate — which IS the oracle.
      Profiling.cmsHeavyHitters(
        docs(s, dir).select(explode(
          split(trim(lower(col("text"))), "\\s+")).as("term")),
        "term", minShare = 0.002)),

    "q_upsert" -> ((s, dir) => {
      // Keyed MERGE: a 10% correction batch (quantity + 100) upserted into
      // the full table; updates win per key, untouched rows survive.
      // Integer-valued quantities keep the checksum sum exact.
      val key = col("l_orderkey") * 8 + col("l_linenumber")
      val t = li(s, dir).select(key.as("k"), col("l_quantity").as("q"))
      val u = li(s, dir).filter(col("l_orderkey") % 10 === 0)
        .select(key.as("k"), (col("l_quantity") + 100).as("q"))
      graft.ops.Upsert.merged(t, u, "k")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
    }),

    "q_expectations" -> ((s, dir) =>
      // Declarative data-quality gate: all rules counted in ONE aggregation
      // pass, null predicate results counted as violations.
      graft.ops.Expectations.report(li(s, dir), Seq(
          graft.ops.Expectations.notNull("l_orderkey"),
          graft.ops.Expectations.nonNegative("l_quantity"),
          graft.ops.Expectations.inRange("l_discount", 0.0, 0.1),
          graft.ops.Expectations.matches("l_returnflag", "^[ARN]$")))
        .orderBy(col("expectation"))),

    "q_orc_roundtrip" -> ((s, dir) => {
      // Columnar-format breadth: the corpus written as ORC (the other
      // Spark-native columnar format — what an upstream Hive/Hadoop
      // system would hand a training pipeline), read back and
      // hash-checked column-for-column against the source table. The
      // write is executor-side and partition-parallel like any sink; the
      // read is a DSv2 scan with the same pushdown surface as parquet.
      val out = scratchDir + "/orc/docs_" + dir.replaceAll("[^A-Za-z0-9]+", "_")
      docs(s, dir).select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy(col("doc_id"))
    }),

    "q_jsonl_ingest" -> ((s, dir) => {
      // JSONL ingestion with quarantine: documents serialized as JSON
      // lines with every 50th line corrupted; the reader must route broken
      // lines to quarantine (count pinned in the certificate) and parse
      // the rest — output hash-checked against the documents table.
      import org.apache.spark.sql.types._
      val tag = dir.replaceAll("[^A-Za-z0-9]+", "_")
      val out = stagedInput(s"jsonl/docs_$tag.jsonl", sourceSignature(dir, "documents")) { f =>
        val rows = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy(col("doc_id")).collect()
        val sb = new StringBuilder
        rows.foreach { r =>
          if (r.getLong(0) % 50 == 0) sb.append(s"{broken line ${r.getLong(0)}\n")
          else sb.append(
            s"""{"doc_id": ${r.getLong(0)}, "lang": "${r.getString(1)}", "n_chars": ${r.getLong(2)}}\n""")
        }
        java.nio.file.Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
      }
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("n_chars", LongType)))
      val (good, bad) = graft.sources.TextIngest.readJsonl(s, out.getAbsolutePath, schema)
      val nBad = bad.count()
      val expectBad = docs(s, dir).filter(col("doc_id") % 50 === 0).count()
      require(nBad == expectBad,
        s"quarantine must hold exactly the corrupted lines: $nBad != $expectBad")
      good.orderBy(col("doc_id"))
    }),

    "q_csv_ingest" -> ((s, dir) => {
      // CSV ingestion with quarantine — the delimited-corpus twin of
      // q_jsonl_ingest: every 50th line corrupted (untypeable doc_id →
      // from_csv PERMISSIVE routes it to the in-schema corrupt column);
      // quarantine count pinned, survivors hash-checked.
      import org.apache.spark.sql.types._
      val tag = dir.replaceAll("[^A-Za-z0-9]+", "_")
      val out = stagedInput(s"csv/docs_$tag.csv", sourceSignature(dir, "documents")) { f =>
        val rows = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy(col("doc_id")).collect()
        val sb = new StringBuilder
        rows.foreach { r =>
          if (r.getLong(0) % 50 == 0)
            sb.append(s"notanumber,${r.getString(1)},${r.getLong(2)}\n")
          else sb.append(s"${r.getLong(0)},${r.getString(1)},${r.getLong(2)}\n")
        }
        java.nio.file.Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
      }
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("n_chars", LongType)))
      val (good, bad) = graft.sources.TextIngest.readCsv(s, out.getAbsolutePath, schema)
      val nBad = bad.count()
      val expectBad = docs(s, dir).filter(col("doc_id") % 50 === 0).count()
      require(nBad == expectBad,
        s"quarantine must hold exactly the corrupted lines: $nBad != $expectBad")
      good.orderBy(col("doc_id"))
    }),

    "q_sink_layout" -> ((s, dir) => {
      // Layout-aware sink round-trip: write partitioned by l_returnflag +
      // sorted by l_shipdate, reread one partition, certify (a) the scan
      // touched only that partition's directory and (b) the partition's
      // rows survived bit-exact (count + integer-valued quantity sum).
      val out = stagingDir() + "/layout_lineitem"
      graft.sources.LayoutWriter.write(
        li(s, dir).select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_shipdate"), col("l_quantity")),
        out, partCols = Seq("l_returnflag"), sortCols = Seq("l_shipdate"))
      // Violation-count form (r17): rows served from OUTSIDE the selected
      // partition's directory — exact 0 the oracle states, no boolean.
      // Direct filtered read, NOT prunedRead: its eager .head() certificate
      // job would compute the same containment fact this aggregation
      // derives, then throw it away — one wasted scan per run.
      val back = s.read.parquet(out).filter(col("l_returnflag") === "R")
      val seg = graft.sources.LayoutWriter.partitionSegment("l_returnflag", "R")
      back.withColumn("__f", input_file_name()) // projected first: Spark
        // refuses non-deterministic expressions INSIDE aggregate args
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          coalesce(sum(when(col("__f").contains(seg), 0L).otherwise(1L)),
            lit(0L)).as("n_rows_outside_partition"))
    }),

    "q_join_bucketed" -> ((s, dir) => {
      // Co-bucketed catalog tables: both sides hash-bucketed on the join
      // key at write time, so the sort-merge join runs WITHOUT an exchange
      // (LayoutWriterSpec pins the no-shuffle plan). The recurring-join
      // answer to "repartition or bucket?" at 100 TB. The tables are
      // PUBLISHED idempotently (written once per JVM under its scratchDir,
      // then reused by later runs — a bucketed layout's whole point is
      // paying the write once), with sf-specific names + a source
      // fingerprint so a changed corpus or a different sf dir still
      // triggers a rebuild.
      val tag = dir.replaceAll("[^A-Za-z0-9]+", "_")
      val fp = sourceSignature(dir, "lineitem", "orders")
      val liName = s"graft_bk_lineitem_$tag"
      val ordName = s"graft_bk_orders_$tag"
      graft.sources.LayoutWriter.ensureBucketed(
        li(s, dir).select(col("l_orderkey"), col("l_quantity")),
        liName, "l_orderkey", numBuckets = 16, sortCol = Some("l_orderkey"),
        location = scratchDir + s"/bk/$liName", fingerprint = fp)
      graft.sources.LayoutWriter.ensureBucketed(
        ord(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
        ordName, "o_orderkey", numBuckets = 16, sortCol = Some("o_orderkey"),
        location = scratchDir + s"/bk/$ordName", fingerprint = fp)
      s.table(liName).hint("merge")
        .join(s.table(ordName), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    }),

    "q_sink_sorted" -> ((s, dir) => {
      // Globally-sorted (range-partitioned) layout: a narrow range filter
      // must touch at most a couple of files (disjoint per-file key
      // ranges), certified via input_file_name alongside the row count.
      val out = stagingDir() + "/sorted_lineitem"
      graft.sources.LayoutWriter.writeGloballySorted(
        li(s, dir).select(col("l_orderkey"), col("l_extendedprice")),
        out, Seq("l_orderkey"), numFiles = 8)
      val back = s.read.parquet(out).filter(col("l_orderkey") < 1000)
      val files = back.select(input_file_name()).distinct().count()
      // files touched beyond the 2 a disjoint range layout permits —
      // exact 0 the oracle states (r17, no boolean)
      back.agg(count(lit(1)).as("n"))
        .withColumn("files_over_cap", lit(math.max(files - 2L, 0L)))
    }),

    "q_sink_compact" -> ((s, dir) => {
      // Small-file compaction certificate (the maintenance pass every
      // long-lived corpus needs — streaming sinks and per-task writers
      // shred tables into thousands of tiny files): 16 small files
      // rewritten to 2 via the swap-safe compact (tmp write → aside-move
      // → swap; a failure at any step leaves the original or a restore).
      // Certified in-plan: file counts before/after from the directory,
      // rows and id-sum prove the content survived byte-exact.
      val out = stagingDir() + "/compact_docs_" + dir.replaceAll("[^A-Za-z0-9]+", "_")
      val src = docs(s, dir).select(col("doc_id"), col("text"))
      src.repartition(16).write.mode("overwrite").parquet(out)
      def nFiles() = new java.io.File(out).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      val before = nFiles()
      graft.sources.LayoutWriter.compact(s, out, targetFiles = 2)
      val after = nFiles()
      s.read.parquet(out)
        .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_ids"))
        .withColumn("files_before", lit(before.toLong))
        .withColumn("files_after", lit(after.toLong))
        .select(col("files_before"), col("files_after"), col("n_rows"),
          col("sum_ids"))
    }),

    "q_sink_zstd" -> ((s, dir) => {
      // Codec-certified zstd parquet round-trip: content survives
      // byte-exact AND every column chunk's FOOTER declares ZSTD — the
      // write option alone proves nothing (it silently falls back when
      // the native lib is absent, and a "zstd corpus" quietly becomes
      // snappy). Footer reads are metadata-sized, driver-side.
      val out = stagingDir() + "/zstd_docs_" + dir.replaceAll("[^A-Za-z0-9]+", "_")
      docs(s, dir).select(col("doc_id"), col("text"))
        .repartition(4).write.mode("overwrite")
        .option("compression", "zstd").parquet(out)
      val codecs = graft.sources.LayoutWriter.parquetCodecs(s, out)
      // the ACTUAL footer codec set as a value (r17): a silent snappy
      // fallback prints its name instead of flipping a boolean
      s.read.parquet(out)
        .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_ids"))
        .withColumn("codecs", lit(codecs.toSeq.sorted.mkString(",")))
        .select(col("codecs"), col("n_rows"), col("sum_ids"))
    }),

    "q_sink_zorder" -> ((s, dir) => {
      // Z-order clustered layout (Morton curve — the Delta/Iceberg
      // OPTIMIZE ZORDER shape): 2-D box filters prune DIRECTORIES, which
      // neither a single-column sort nor hash partitioning can do for
      // two dimensions at once. Rows are rank-bucketized on a 16×16
      // integer grid off the corpus min/max, bit-interleaved, and
      // written one directory per top-4-z-bit bucket; the reader turns
      // the (quarter-x × half-y) box into its intersecting bucket list
      // driver-side and pushes `zb IN (…)` into the scan — plan-time
      // partition pruning, certified by files-read ≤ bucket-list size
      // and bucket-list < 16. The oracle replays every integer (bucket
      // grid, interleave, box, bucket enumeration) in SQL.
      val out = stagingDir() + "/zorder_lineitem"
      val zm = graft.sources.ZOrderLayout.writeZOrdered(
        li(s, dir).select(col("l_orderkey"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity")),
        out, "l_partkey", "l_suppkey", bits = 4, bucketBits = 4)
      val x1 = zm.minX; val x2 = zm.minX + (zm.maxX - zm.minX) / 4
      val y1 = zm.minY + (zm.maxY - zm.minY) / 2; val y2 = zm.maxY
      val bl = graft.sources.ZOrderLayout.bucketsForBox(zm, x1, x2, y1, y2)
      val back = graft.sources.ZOrderLayout.readBox(
        s, out, zm, "l_partkey", "l_suppkey", x1, x2, y1, y2)
      val filesRead = back.select(input_file_name()).distinct().count()
      back.agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          countDistinct(col("zb").cast("long")).as("n_buckets_box"))
        .withColumn("n_buckets_list", lit(bl.size.toLong))
        .withColumn("dir_pruned", lit(bl.size < 16))
        // files touched beyond the bucket list — exact 0 the oracle
        // states (r17, no stated boolean; dir_pruned above is DERIVED by
        // the oracle from its own bucket enumeration)
        .withColumn("files_over_buckets",
          lit(math.max(filesRead - bl.size.toLong, 0L)))
    }),

    "q_corpus_manifest" -> ((s, dir) =>
      // Release manifest: per-source doc/token/char counts, id range and
      // an order-independent content checksum (Σ per-doc polynomial
      // fingerprints) — two releases match iff their manifests match,
      // independent of layout or row order. One map-side-partial
      // aggregation; every value an exact integer the oracle re-derives.
      graft.ops.Profiling.releaseManifest(docs(s, dir), "source", "doc_id", "text")
        .orderBy(col("source"))),

    "q_profile_skew" -> ((s, dir) => {
      // Pre-join skew diagnosis: a planted mega-key (10% of lineitem) and
      // a uniform tail; the report surfaces the hot key with its exact
      // integer share and the salt factor that would level it — the
      // number q_join_salted's construction consumes. Count shuffle +
      // K-row top-k; the fact table never moves twice.
      val keyed = li(s, dir).select(
        when(col("l_orderkey") % 10 === 0, lit("hot"))
          .otherwise(concat(lit("k"), (col("l_orderkey") % 97).cast("string")))
          .as("jkey"))
      graft.ops.Profiling.keySkewReport(keyed, "jkey", topK = 5,
          targetPartitions = 32)
        .orderBy(col("n_rows").desc, col("key"))
    }),

    "q_profile_lenhist" -> ((s, dir) =>
      // Token-length histogram in power-of-two buckets — the distribution
      // view behind choosing pack budgets and length-bucket widths
      // (q_pack_lenbucket's slot geometry assumes it). Bucket =
      // ⌊log₂ n⌋ via the binary-representation length (never a float
      // log — transcendental boundaries are exactly where the buckets
      // sit); one aggregation over a slim count column.
      docs(s, dir)
        .select(graft.llm.TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
        .filter(col("n") > 0)
        .withColumn("bucket_log2", (length(bin(col("n"))) - 1).cast("long"))
        .groupBy(col("bucket_log2"))
        .agg(count(lit(1)).as("n_docs"), min(col("n")).as("min_tokens"),
          max(col("n")).as("max_tokens"))
        .orderBy(col("bucket_log2"))),

    "q_profile_health" -> ((s, dir) =>
      // Per-source health panel on an augmented corpus: every %9 doc gets
      // an exact within-source duplicate and every %13 doc a short stub,
      // so both rates are non-trivial and the whole panel hash-checks.
      graft.ops.Profiling.sourceHealth(
          docs(s, dir).select(col("source"), col("text"))
            .unionByName(docs(s, dir).filter(col("doc_id") % 9 === 0)
              .select(col("source"), col("text")))
            .unionByName(docs(s, dir).filter(col("doc_id") % 13 === 0)
              .select(col("source"), lit("stub").as("text"))),
          "source", "text", shortChars = 100)
        .orderBy(col("source"))),

    "q_snapshot_read" -> ((s, dir) => {
      // Snapshot / time-travel read (VERDICT r13 item 7): a two-release
      // fixture under a fresh staging root — release 1 commits the even
      // docs, release 2 appends the odd docs. The v1 release manifest is
      // captured BEFORE v2 commits and recomputed from a pinned v1 read
      // AFTER v2 landed; byte-stability of that pinned read while the
      // next release lands is the certificate ("read release N while N+1
      // lands"). The manifests themselves are the oracle-checkable
      // payload: the oracle re-derives v1 from the %2 predicate and v2
      // from the full table, and states the stability flag.
      val root = scratchDir + "/snapshot_table"
      graft.sources.SnapshotStore.destroy(root)
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val v1 = graft.sources.SnapshotStore.commit(
        d.filter(col("doc_id") % 2 === 0), root)
      def manifestOf(df: org.apache.spark.sql.DataFrame) =
        Profiling.releaseManifest(df, "source", "doc_id", "text")
      val before = manifestOf(
          graft.sources.SnapshotStore.read(s, root, v1))
        .orderBy(col("source")).collect().toSeq
      val v2 = graft.sources.SnapshotStore.commit(
        d.filter(col("doc_id") % 2 === 1), root)
      val v1After = manifestOf(graft.sources.SnapshotStore.read(s, root, v1))
      val after = v1After.orderBy(col("source")).collect().toSeq
      // Violation-count + value form (r17): manifest rows that drifted
      // across the pinned re-read (exact 0) and the resolved CURRENT
      // version (exact 2) — the oracle states both, no boolean.
      val driftRows = (before.diff(after) ++ after.diff(before)).size.toLong
      val curVer = graft.sources.SnapshotStore.currentVersion(root)
        .getOrElse(-1).toLong
      val m1 = v1After.select(col("source"),
        col("n_docs").as("v1_n_docs"), col("checksum").as("v1_checksum"))
      val m2 = manifestOf(graft.sources.SnapshotStore.readCurrent(s, root))
        .select(col("source"),
          col("n_docs").as("v2_n_docs"), col("checksum").as("v2_checksum"))
      m1.join(m2, "source")
        .withColumn("n_drift_rows", lit(driftRows))
        .withColumn("current_version", lit(curVer))
        .orderBy(col("source"))
    }),

    "q_sink_jsonl" -> ((s, dir) => {
      // Certified JSONL EXPORT — the interchange format downstream
      // trainers consume: docs render one JSON object per line (to_json
      // over a fixed struct — stable key order), write as a text sink,
      // read back through the quarantine-checked JSONL ingest. The
      // certificate is the full round trip as VALUES the oracle derives
      // from the corpus: row count, id sum, content fingerprint-sum, and
      // a zero quarantine count.
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val tag = dir.replaceAll("[^A-Za-z0-9]+", "_")
      val out = stagingDir() + s"/jsonl_export/$tag"
      docs(s, dir).select(
          to_json(struct(col("doc_id"), col("source"), col("text"))).as("value"))
        .write.mode("overwrite").text(out)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType)))
      val (good, bad) = graft.sources.TextIngest.readJsonl(s, out, schema)
      good.agg(
          count(lit(1)).as("n_rows"),
          sum(col("doc_id")).as("sum_ids"),
          sum(graft.llm.TextAnalysis.fingerprint(col("text"))).as("checksum"))
        .crossJoin(bad.agg(count(lit(1)).as("n_quarantined")))
        .select(col("n_rows"), col("sum_ids"), col("checksum"),
          col("n_quarantined"))
    }),

    "q_snapshot_expire" -> ((s, dir) => {
      // Snapshot GC (the other half of the Iceberg lifecycle next to
      // q_snapshot_read): v1 = even docs, v2 appends the odd docs (its
      // manifest carries v1's files forward), v3 = compaction REWRITE
      // (fresh files only — the commit that makes history expirable).
      // expire(keep=1) drops the v1/v2 manifests, then deletes every
      // data file only they referenced. Certificate: (a) the CURRENT
      // read is byte-stable across the GC (order-independent manifest
      // checksums equal before/after), (b) the expired version is
      // unreadable afterwards, (c) the data dir holds EXACTLY the
      // retained manifest's files and something was actually deleted.
      // The oracle re-derives the full-table manifest and the flags.
      val root = scratchDir + "/snapshot_expire"
      val SS = graft.sources.SnapshotStore
      SS.destroy(root)
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      SS.commit(d.filter(col("doc_id") % 2 === 0), root)
      SS.commit(d.filter(col("doc_id") % 2 === 1), root)
      val v3 = SS.rewrite(s, root)
      def manifestOf(df: org.apache.spark.sql.DataFrame) =
        Profiling.releaseManifest(df, "source", "doc_id", "text")
      val before = manifestOf(SS.readCurrent(s, root))
        .orderBy(col("source")).collect().toSeq
      // graceMs = 0: the fixture's whole history was written moments ago,
      // and no commit is in flight — the production-default grace window
      // (which spares young unreferenced files as presumed in-flight
      // phase-1 landings) would mask the GC under test.
      val deleted = SS.expire(root, keep = 1, graceMs = 0L)
      val curAfter = manifestOf(SS.readCurrent(s, root))
      val after = curAfter.orderBy(col("source")).collect().toSeq
      // Violation-count form (r17): drifted CURRENT manifest rows, the
      // expired version still readable (0/1), data-dir files the retained
      // manifest doesn't reference and vice versa, and whether GC deleted
      // anything at all (clamped to 1 — the raw count is layout/partition
      // dependent) — all exact integers the oracle states, no boolean.
      val driftRows = (before.diff(after) ++ after.diff(before)).size.toLong
      val expiredReadable =
        if (scala.util.Try(SS.read(s, root, 1)).isFailure) 0L else 1L
      val dataF = SS.dataFiles(root)
      val mani = SS.manifest(root, v3)
      val gcLeftover = dataF.diff(mani).size.toLong
      val gcMissing = mani.diff(dataF).size.toLong
      curAfter
        .withColumn("n_drift_rows", lit(driftRows))
        .withColumn("n_expired_readable", lit(expiredReadable))
        .withColumn("n_gc_leftover", lit(gcLeftover))
        .withColumn("n_gc_missing", lit(gcMissing))
        .withColumn("n_gc_ran", lit(math.min(deleted.size, 1).toLong))
        .orderBy(col("source"))
    }),

    "q_snapshot_conflict" -> ((s, dir) => {
      // Optimistic-concurrency commit (VERDICT r14 item 1): two writers
      // race the same base release. Both observe v1 (the even docs) and
      // stage their batches (phase 1 — files land unreferenced); writer A
      // claims v2 first and WINS the create-if-absent manifest CAS;
      // writer B's claim of the SAME v2 is atomically rejected, so B
      // re-reads the advanced table, re-carries v2's file list, and its
      // retry lands as v3 — the append-commute rule. Certificate is all
      // VALUES the oracle derives from the corpus: v2 must be exactly
      // even ∪ (doc_id%4==1) (the winner's commit, untouched by the
      // loser's failed claim) and v3 the full corpus (nothing lost), per
      // source with content checksums; the version numbers and the
      // rejected-claim count are computed from the CAS outcomes.
      val root = scratchDir + "/snapshot_conflict"
      val SS = graft.sources.SnapshotStore
      SS.destroy(root)
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val v1 = SS.commit(d.filter(col("doc_id") % 2 === 0), root)
      val carried = SS.manifest(root, v1)
      val filesA = SS.stageData(d.filter(col("doc_id") % 4 === 1), root)
      val filesB = SS.stageData(d.filter(col("doc_id") % 4 === 3), root)
      val aWon = SS.tryCommitAt(root, 2, carried ++ filesA)
      val bStaleRejected = !SS.tryCommitAt(root, 2, carried ++ filesB)
      val bRetryWon = SS.tryCommitAt(root, 3, SS.manifest(root, 2) ++ filesB)
      def manifestOf(df: org.apache.spark.sql.DataFrame) =
        Profiling.releaseManifest(df, "source", "doc_id", "text")
      val m2 = manifestOf(SS.read(s, root, 2)).select(col("source"),
        col("n_docs").as("v2_n_docs"), col("checksum").as("v2_checksum"))
      val m3 = manifestOf(SS.read(s, root, 3)).select(col("source"),
        col("n_docs").as("v3_n_docs"), col("checksum").as("v3_checksum"))
      m2.join(m3, "source")
        .withColumn("winner_version", lit(if (aWon) 2L else 0L))
        .withColumn("loser_version",
          lit(if (bRetryWon && SS.currentVersion(root).contains(3)) 3L else 0L))
        .withColumn("n_stale_rejected", lit(if (bStaleRejected) 1L else 0L))
        .orderBy(col("source"))
    }),

    "q_pipeline_ingest_tick" -> ((s, dir) => {
      // The daily-crawl ingest tick, end to end: release v1 holds the
      // even docs; tonight's batch is the odd docs plus re-crawls of
      // history (+1e6) and a within-batch duplicate run (+2e6). The
      // catalog is built FROM THE RELEASE (a pinned snapshot read, not
      // the source frame — the shape a production tick has, where
      // history exists only as releases), survivors commit as v2, and
      // the report joins the v1 and CURRENT release manifests. Because
      // survivors must be exactly the odd originals (catalog hits and
      // batch-internal copies both drop), CURRENT == the full corpus and
      // every output cell is oracle-derivable — a fully hash-checked
      // composition, no stated flags.
      val root = scratchDir + "/ingest_tick"
      val SS = graft.sources.SnapshotStore
      SS.destroy(root)
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val prior = d.filter(col("doc_id") % 2 === 0)
      val v1 = SS.commit(prior, root)
      val history = SS.read(s, root, v1)
      val odd = d.filter(col("doc_id") % 2 === 1)
      val batch = odd
        .unionByName(prior.select((col("doc_id") + 1000000L).as("doc_id"),
          col("source"), col("text")))
        .unionByName(odd.select((col("doc_id") + 2000000L).as("doc_id"),
          col("source"), col("text")))
      val survivors = graft.llm.Dedup.exactDedupIncremental(
        batch, graft.llm.Dedup.hashCatalog(history))
      SS.commit(survivors.select(col("doc_id"), col("source"), col("text")), root)
      def manifestOf(df: org.apache.spark.sql.DataFrame) =
        Profiling.releaseManifest(df, "source", "doc_id", "text")
      val m1 = manifestOf(SS.read(s, root, v1)).select(col("source"),
        col("n_docs").as("v1_n_docs"), col("checksum").as("v1_checksum"))
      val m2 = manifestOf(SS.readCurrent(s, root)).select(col("source"),
        col("n_docs").as("cur_n_docs"), col("checksum").as("cur_checksum"))
      m1.join(m2, "source").orderBy(col("source"))
    }),

    "q_corpus_manifest_diff" -> ((s, dir) => {
      // Release diff without touching either corpus: revision B removes
      // the doc_id%17 docs and appends ' updated' to the %13 texts; the
      // per-source report carries exact doc/token deltas and a
      // content-changed flag from the order-independent checksums.
      val revA = graft.ops.Profiling.releaseManifest(
        docs(s, dir), "source", "doc_id", "text")
      val revB = graft.ops.Profiling.releaseManifest(
        docs(s, dir).filter(col("doc_id") % 17 =!= 0)
          .select(col("doc_id"), col("source"),
            when(col("doc_id") % 13 === 0, concat(col("text"), lit(" updated")))
              .otherwise(col("text")).as("text")),
        "source", "doc_id", "text")
      graft.ops.Profiling.manifestDiff(revA, revB)
        .orderBy(col("source"))
    }),

    "q_corpus_manifest_incr" -> ((s, dir) => {
      // Incremental manifest maintenance: the persisted manifest (even
      // doc ids) merges with a new batch's manifest (odd ids) WITHOUT
      // re-reading prior bodies — every manifest column is associative
      // by design. The oracle recomputes the merged manifest from the
      // raw union, certifying merge == recompute exactly.
      val prior = graft.ops.Profiling.releaseManifest(
        docs(s, dir).filter(col("doc_id") % 2 === 0), "source", "doc_id", "text")
      val delta = graft.ops.Profiling.releaseManifest(
        docs(s, dir).filter(col("doc_id") % 2 === 1), "source", "doc_id", "text")
      graft.ops.Profiling.mergeManifests(prior, delta)
        .orderBy(col("source"))
    }),

    "q_sample_topfrac_dist" -> ((s, dir) =>
      // The corpus-scale twin of q_sample_topfrac: same exact top-30%
      // selection, but range-partitioned with prefix offsets — every
      // pre-boundary partition keeps all rows rank-free and only the ONE
      // boundary partition (≈ n/P rows) ranks, so no corpus-fraction k
      // ever funnels through a single merge task. Same oracle as the
      // sort+limit form: the selected set is a pure function of the
      // total (quality DESC, doc_id) order, independent of partitioning.
      Sampling.topFractionByScoreDist(
          docs(s, dir).select(col("doc_id"),
            graft.llm.TextAnalysis.qualityScore(col("text")).as("quality")),
          col("quality"), frac = 0.3, tie = col("doc_id"))
        .orderBy(col("doc_id"))),

    "q_sample_topfrac" -> ((s, dir) =>
      // Exact top-30%-by-quality selection (the FineWeb-Edu gate shape):
      // total (score desc, doc_id) order makes the boundary
      // deterministic; plans as per-partition top-k + k-row merge, never
      // a corpus materialization. The oracle replays the quality formula
      // and the ranked cut.
      Sampling.topFractionByScore(
          docs(s, dir).select(col("doc_id"),
            graft.llm.TextAnalysis.qualityScore(col("text")).as("quality")),
          col("quality"), frac = 0.3, tie = col("doc_id"))
        .orderBy(col("doc_id"))),

    "q_sample_topfrac_auto" -> ((s, dir) =>
      // Dispatcher entry (the budgetSelectAuto discipline applied to the
      // OTHER single-merge-task hazard): topFractionByScoreAuto probes k
      // with one count job and picks sort+limit vs the range-partitioned
      // prefix form on the measured ~1M-k crossover
      // (recorded in bench/history/BENCH_local_r17_topfrac.json). At oracle
      // scale the probe lands below it → sort+limit; ScaleOpsSpec pins
      // the dist branch and the identical-output contract, so the oracle
      // (same ranked cut) is form-independent.
      Sampling.topFractionByScoreAuto(
          docs(s, dir).select(col("doc_id"),
            graft.llm.TextAnalysis.qualityScore(col("text")).as("quality")),
          col("quality"), frac = 0.3, tie = col("doc_id"))
        .orderBy(col("doc_id"))),

    "q_schema_evolution" -> ((s, dir) => {
      // Schema-evolution read: revision 1 (even docs) predates the
      // `lang` column, revision 2 carries it. The merged read unions the
      // footers at PLAN time (zero bytes rewritten — the property that
      // makes adding a column to a petabyte corpus free) with NULL
      // backfill on old files; the revision report is the migration
      // dashboard: per revision, rows and added-column coverage.
      val out = stagingDir() + "/schema_evo/" + dir.replaceAll("[^A-Za-z0-9]+", "_")
      val d = docs(s, dir)
      d.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("n_chars"))
        .write.mode("overwrite").parquet(out + "/rev=1")
      d.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .write.mode("overwrite").parquet(out + "/rev=2")
      val merged = graft.sources.SchemaEvolution.readMerged(s, out)
      graft.sources.SchemaEvolution.revisionReport(merged, "rev", Seq("lang"))
        .orderBy(col("rev"))
    }),

    "q_pipeline_curation" -> ((s, dir) => {
      // End-to-end curation (language → quality → exact dedup → near-dup
      // cluster keep → deterministic 1/2 sample) over the planted-near-dup
      // corpus, bounded to doc_id % 4 = 0 (the +1e6 mutation preserves the
      // residue, so every sampled original keeps its planted duplicate).
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val aug = d.union(d.select(col("doc_id") + 1000000L,
          concat(col("text"), lit(" graft dup tail"))))
        .filter(col("doc_id") % 4 === 0)
      graft.llm.Curation.run(aug, sampleNum = 1, sampleDen = 2)
    })
  )

  /** Shared tokenization fragment for the relevance oracles. */
  private val toksSql =
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> length(t) > 0)"

  /** Shared BM25 oracle idf chain: `micro(ln((2N+2)/(2df+1)))` through the
    * wide fixed-point log — expects CTEs `tf`(id, term, tf) and `n`(n) in
    * scope, defines `idf`(term, idf_micro). Mirrors Relevance.bm25 (one
    * FixedPointLog generator, both engines).
    */
  private lazy val bm25IdfChainSql: String = {
    import graft.functions.FixedPointLog.{lnNanoWideDuckSteps, microOfNanoDuck}
    val steps = lnNanoWideDuckSteps("2 * (SELECT n FROM n) + 2", "2 * df + 1", "bi")
    val chain = steps.zipWithIndex.map { case ((e, a), i) =>
      val src = if (i == 0) "idf0" else s"bic$i"
      s"bic${i + 1} AS (SELECT *, $e AS $a FROM $src)"
    }.mkString(",\n")
    s"""idf0 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
$chain,
idf AS (SELECT term, CAST(${microOfNanoDuck("bi_ln")} AS BIGINT) AS idf_micro
  FROM bic${steps.size})"""
  }

  /** Shared BM25 oracle contribution: `round-half-up(idf_micro·num/den)`
    * with the k1 = 6/5, b = 3/4 saturation as one HUGEINT integer fraction
    * (num/den scaled by k1Den·bDen·sumlen = 20·sumlen) — expects row
    * aliases `t` (tf), `i` (idf), `l` (lens) and CTEs `sl`(sumlen),
    * `n`(n).
    */
  private val bm25ContribSql: String =
    "CAST((2 * CAST(i.idf_micro AS HUGEINT)" +
      " * (44 * CAST(t.tf AS HUGEINT) * (SELECT sumlen FROM sl))" +
      " + (20 * CAST(t.tf AS HUGEINT) * (SELECT sumlen FROM sl)" +
      " + 6 * (SELECT sumlen FROM sl)" +
      " + 18 * CAST(l.len AS HUGEINT) * (SELECT n FROM n)))" +
      " // (2 * (20 * CAST(t.tf AS HUGEINT) * (SELECT sumlen FROM sl)" +
      " + 6 * (SELECT sumlen FROM sl)" +
      " + 18 * CAST(l.len AS HUGEINT) * (SELECT n FROM n))) AS BIGINT)"

  def oracleSql: Map[String, String] = Map(
    "q_join_bloom" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_join_range" ->
      """WITH i AS (SELECT o_orderkey, o_totalprice % 100000.0 AS lo,
        |    (o_totalprice % 100000.0) + 1000.0 AS hi
        |  FROM orders WHERE o_orderkey % 100 = 0)
        |SELECT i.o_orderkey, CAST(count(*) AS BIGINT) AS n
        |FROM i JOIN lineitem l
        |  ON l.l_extendedprice >= i.lo AND l.l_extendedprice <= i.hi
        |GROUP BY i.o_orderkey ORDER BY i.o_orderkey""".stripMargin,

    "q_orc_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q_jsonl_ingest" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 50 <> 0 ORDER BY doc_id""".stripMargin,

    "q_csv_ingest" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 50 <> 0 ORDER BY doc_id""".stripMargin,

    "q_join_interval" ->
      """WITH a AS (SELECT o_orderkey AS a_key,
        |    (o_orderkey % 1000) * 10 AS a_lo,
        |    (o_orderkey % 1000) * 10 + (o_orderkey % 5) * 30 + 20 AS a_hi
        |  FROM orders WHERE o_orderkey % 37 = 0),
        |b AS (SELECT o_orderkey AS b_key,
        |    (o_orderkey % 900) * 11 AS b_lo,
        |    (o_orderkey % 900) * 11 + (o_orderkey % 7) * 25 + 15 AS b_hi
        |  FROM orders WHERE o_orderkey % 41 = 0)
        |SELECT a_key, b_key FROM a JOIN b
        |  ON a_lo <= b_hi AND b_lo <= a_hi
        |ORDER BY a_key, b_key""".stripMargin,

    "q_sample_hash" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE (l_orderkey * 2654435761) % 4294967296 % 10 < 1
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_sample_strat" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY ((l_orderkey * 8 + l_linenumber) * 2654435761) % 4294967296,
        |        l_orderkey * 8 + l_linenumber) AS rn
        |  FROM lineitem)
        |WHERE rn <= 100
        |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin,

    "q_sample_weighted" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt
        |  FROM documents),
        |t AS (SELECT source, sum(nt) AS tokens FROM d GROUP BY 1),
        |b AS (SELECT source,
        |    400 + 150 * (CAST(substr(source, 4) AS INT) % 5) AS budget
        |  FROM t)
        |SELECT doc_id, d.source FROM d JOIN t USING (source) JOIN b USING (source)
        |WHERE CAST((doc_id * 2654435761) % 4294967296 AS HUGEINT) * tokens
        |    < CAST(budget AS HUGEINT) * 4294967296
        |ORDER BY doc_id""".stripMargin,

    "q_sample_temperature" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt
        |  FROM documents),
        |t AS (SELECT source, sum(nt) AS tokens,
        |    CAST(floor(sqrt(sum(nt))) AS BIGINT) AS st
        |  FROM d GROUP BY 1),
        |b AS (SELECT source, tokens,
        |    20000 * st // (SELECT sum(st) FROM t) AS budget FROM t)
        |SELECT doc_id, d.source FROM d JOIN b USING (source)
        |WHERE CAST((doc_id * 2654435761) % 4294967296 AS HUGEINT) * tokens
        |    < CAST(budget AS HUGEINT) * 4294967296
        |ORDER BY doc_id""".stripMargin,

    "q_sample_doremi" -> {
      // The exp is the same fixed-point Taylor chain the Spark side runs
      // (FixedPointExp — one generator, both engines), so no engine-native
      // exp() reaches the compared weights.
      val steps = graft.functions.FixedPointExp.expNanoDuckSteps(
        "excess_micro * 1000000 // 1000", "w")
      val chain = steps.zipWithIndex.map { case ((e, a), i) =>
        s"ex${i + 1} AS (SELECT *, $e AS $a FROM ex$i)"
      }.mkString(",\n        |")
      s"""WITH d AS (SELECT doc_id % 6 AS domain,
        |    (doc_id * 7919) % 900000 + (doc_id % 6) * 60000 AS proxy_micro,
        |    (doc_id * 104729) % 900000 AS ref_micro
        |  FROM documents),
        |e AS (SELECT domain, greatest(proxy_micro - ref_micro, 0) AS ex FROM d),
        |a AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs, sum(ex) AS s
        |  FROM e GROUP BY 1),
        |ex0 AS (SELECT domain, n_docs, CAST(s // n_docs AS BIGINT) AS excess_micro FROM a),
        |$chain,
        |f AS (SELECT domain, n_docs, excess_micro,
        |    CAST(w_exp // 1000 AS BIGINT) AS wraw
        |  FROM ex${steps.size}),
        |t AS (SELECT sum(wraw) AS tot, count(*) AS k FROM f)
        |SELECT domain, n_docs, excess_micro,
        |  CAST((wraw * (1000000 - 100000)) // (SELECT tot FROM t)
        |    + 100000 // (SELECT k FROM t) AS BIGINT) AS weight_micro
        |FROM f ORDER BY domain""".stripMargin
    },

    "q_sample_epochs" ->
      """WITH f AS (SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 3000
        |      WHEN 'src2' THEN 700 WHEN 'src3' THEN 0 ELSE 1000 END AS fm
        |  FROM documents),
        |c AS (SELECT doc_id, source, fm // 1000 +
        |    CASE WHEN (doc_id * 2654435761) % 4294967296 % 1000 < fm % 1000
        |      THEN 1 ELSE 0 END AS copies
        |  FROM f)
        |SELECT doc_id, source, CAST(unnest(range(copies)) AS BIGINT) AS epoch
        |FROM c ORDER BY doc_id, epoch""".stripMargin,

    "q_text_tfidf" -> {
      // ln(N/df) through the wide fixed-point chain (ratio reaches N),
      // scaled by integer tf in nano-nats, micro-rounded — mirrors
      // Relevance.tfidfTopK (one FixedPointLog generator, both engines).
      import graft.functions.FixedPointLog.{lnNanoWideDuckSteps, microOfNanoDuck}
      val steps = lnNanoWideDuckSteps("(SELECT n FROM n)", "df", "ti")
      val chain = steps.zipWithIndex.map { case ((e, a), i) =>
        val src = if (i == 0) "sc0" else s"sc$i"
        s"sc${i + 1} AS (SELECT *, $e AS $a FROM $src)"
      }.mkString(",\n")
      s"""WITH tf AS (SELECT id, term, count(*) AS tf FROM (
        |    SELECT doc_id AS id, unnest($toksSql) AS term FROM documents)
        |  GROUP BY id, term),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |sc0 AS (SELECT id, term, tf, df FROM tf JOIN df USING (term)),
        |$chain,
        |scored AS (SELECT id, term,
        |    CAST(${microOfNanoDuck("tf * ti_ln")} AS BIGINT) AS tfidf_micro
        |  FROM sc${steps.size}),
        |ranked AS (SELECT id, term, tfidf_micro,
        |    row_number() OVER (PARTITION BY id ORDER BY tfidf_micro DESC, term) AS rn
        |  FROM scored)
        |SELECT id, term, tfidf_micro FROM ranked WHERE rn <= 5 ORDER BY id, term""".stripMargin
    },

    "q_pipeline_rag" ->
      s"""WITH aug AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 50000, text FROM documents WHERE doc_id % 6 = 0),
        |t0 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM aug),
        |c0 AS (SELECT doc_id, tk, greatest(1, (len(tk) - 8 + 23) // 24) AS nc FROM t0),
        |e0 AS (SELECT doc_id, tk, unnest(range(0, nc)) AS chunk_idx FROM c0),
        |ch AS (SELECT doc_id, chunk_idx,
        |    array_to_string(tk[(chunk_idx * 24 + 1):(chunk_idx * 24 + 32)], ' ') AS text
        |  FROM e0),
        |r AS (SELECT doc_id, chunk_idx, text,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id, chunk_idx) AS rn
        |  FROM ch),
        |p AS (SELECT doc_id * 1000 + chunk_idx AS id, text FROM r WHERE rn = 1),
        |toks AS (SELECT id, unnest($toksSql) AS term FROM p),
        |lens AS (SELECT id, CAST(len($toksSql) AS BIGINT) AS len FROM p),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
        |sl AS (SELECT CAST(sum(len) AS BIGINT) AS sumlen FROM lens),
        |tf AS (SELECT id, term, count(*) AS tf FROM toks
        |  WHERE term IN ('join', 'hash', 'filter') GROUP BY id, term),
        |$bm25IdfChainSql,
        |c AS (SELECT t.id, $bm25ContribSql AS cm
        |  FROM tf t JOIN idf i USING (term) JOIN lens l USING (id)),
        |s AS (SELECT id, CAST(sum(cm) AS BIGINT) AS score_micro FROM c GROUP BY id)
        |SELECT id, score_micro FROM s
        |ORDER BY score_micro DESC, id LIMIT 10""".stripMargin,

    "q_text_bm25" ->
      s"""WITH toks AS (SELECT doc_id AS id, unnest($toksSql) AS term FROM documents),
        |lens AS (SELECT doc_id AS id, CAST(len($toksSql) AS BIGINT) AS len FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |sl AS (SELECT CAST(sum(len) AS BIGINT) AS sumlen FROM lens),
        |tf AS (SELECT id, term, count(*) AS tf FROM toks
        |  WHERE term IN ('join', 'hash', 'filter') GROUP BY id, term),
        |$bm25IdfChainSql,
        |c AS (SELECT t.id, $bm25ContribSql AS cm
        |  FROM tf t JOIN idf i USING (term) JOIN lens l USING (id))
        |SELECT id, CAST(sum(cm) AS BIGINT) AS score_micro FROM c
        |GROUP BY id ORDER BY id""".stripMargin,

    // Full replay of BM25 ranking + judgments + metrics. nDCG gains and
    // ideal-DCG cumulative sums are JVM-computed literal tables embedded
    // in both engines' plans (Relevance.dcgGainsMicro — no engine-native
    // log2 reaches a compared value); every cross-row sum is integer.
    "q_text_retrieval_eval" ->
      s"""WITH qt AS (SELECT * FROM (VALUES (0, 'join'), (0, 'hash'),
        |    (1, 'filter'), (1, 'scan'), (2, 'window'), (2, 'sort')) AS t(query_id, term)),
        |toks AS (SELECT doc_id AS id, unnest($toksSql) AS term FROM documents),
        |lens AS (SELECT doc_id AS id, CAST(len($toksSql) AS BIGINT) AS len FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |sl AS (SELECT CAST(sum(len) AS BIGINT) AS sumlen FROM lens),
        |tf AS (SELECT id, term, count(*) AS tf FROM toks
        |  WHERE term IN (SELECT term FROM qt) GROUP BY id, term),
        |$bm25IdfChainSql,
        |c AS (SELECT q.query_id, t.id, $bm25ContribSql AS cm
        |  FROM qt q JOIN tf t USING (term) JOIN idf i USING (term) JOIN lens l USING (id)),
        |scores AS (SELECT query_id, id, CAST(sum(cm) AS BIGINT) AS score_micro
        |  FROM c GROUP BY query_id, id),
        |ranked AS (SELECT query_id, id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, id) AS rank FROM scores),
        |rk AS (SELECT * FROM ranked WHERE rank <= 10),
        |jm AS (SELECT q.query_id, t.id, count(DISTINCT t.term) AS nm
        |  FROM qt q JOIN tf t USING (term) GROUP BY q.query_id, t.id),
        |qsize AS (SELECT query_id, count(*) AS nq FROM qt GROUP BY query_id),
        |jd AS (SELECT m.query_id, m.id FROM jm m JOIN qsize s USING (query_id)
        |  WHERE m.nm = s.nq),
        |rel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel FROM jd GROUP BY query_id),
        |hits AS (SELECT r.query_id, CAST(count(*) AS BIGINT) AS hits,
        |    min(r.rank) AS fr,
        |    sum(([${graft.llm.Relevance.dcgGainsMicro(10).mkString(", ")}])[r.rank]) AS dcg
        |  FROM rk r JOIN jd USING (query_id, id) GROUP BY r.query_id),
        |m AS (SELECT rel.query_id, rel.n_rel, coalesce(h.hits, 0) AS hits,
        |    h.fr, coalesce(h.dcg, 0) AS dcg
        |  FROM rel LEFT JOIN hits h USING (query_id)),
        |i AS (SELECT m.query_id,
        |    ([${graft.llm.Relevance.dcgGainsMicro(10).scanLeft(0L)(_ + _).tail.mkString(", ")}])[least(m.n_rel, 10)] AS idcg
        |  FROM m)
        |SELECT CAST(m.query_id AS BIGINT) AS query_id, m.n_rel, m.hits,
        |  CAST((m.hits * 1000000) // m.n_rel AS BIGINT) AS recall_micro,
        |  CAST((m.hits * 1000000) // 10 AS BIGINT) AS precision_micro,
        |  CAST(CASE WHEN m.fr IS NULL THEN 0 ELSE 1000000 // m.fr END AS BIGINT) AS mrr_micro,
        |  CAST(CASE WHEN i.idcg > 0 THEN (m.dcg * 1000000) // i.idcg ELSE 0 END AS BIGINT) AS ndcg_micro
        |FROM m JOIN i USING (query_id) ORDER BY m.query_id""".stripMargin,

    "q_safety_canary" ->
      """WITH a AS (SELECT doc_id, text
        |    || CASE WHEN doc_id % 23 = 0 THEN ' CANARY-zq7-000123' ELSE '' END
        |    || CASE WHEN doc_id % 46 = 0 THEN ' CANARY-zq7-000123' ELSE '' END
        |    || CASE WHEN doc_id % 31 = 0 THEN ' probe-vx9-88' ELSE '' END AS text
        |  FROM documents),
        |h AS (SELECT doc_id, CAST(0 AS BIGINT) AS canary_idx,
        |    CAST((length(text) - length(replace(text, 'CANARY-zq7-000123', ''))) // 17 AS BIGINT) AS n_hits
        |  FROM a
        |  UNION ALL
        |  SELECT doc_id, CAST(1 AS BIGINT),
        |    CAST((length(text) - length(replace(text, 'probe-vx9-88', ''))) // 12 AS BIGINT)
        |  FROM a)
        |SELECT doc_id, canary_idx, n_hits FROM h WHERE n_hits > 0
        |ORDER BY doc_id, canary_idx""".stripMargin,

    "q_text_redact" ->
      """WITH p AS (SELECT doc_id, text || ' contact u' || CAST(doc_id AS VARCHAR)
        |    || '@example.com via 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
        |    || ' or +1 555 01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\+\d{1,3}([ -]?\d{3,4}){2,3}\b')) AS INT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\+\d{1,3}([ -]?\d{3,4}){2,3}\b', '[PHONE]', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin,

    "q_profile_summary" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", CAST(count($c) AS BIGINT) AS n,
          |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
          |  CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
          |  CAST(min($c) AS DOUBLE) AS vmin, CAST(max($c) AS DOUBLE) AS vmax
          |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_partkey")
        .map(one).mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY \"column\"")
    },

    "q_profile_quantiles" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(15019 AS BIGINT) AS r_25, CAST(29964 AS BIGINT) AS r_50,
        |  CAST(53946 AS BIGINT) AS r_90, CAST(59357 AS BIGINT) AS r_99
        |FROM lineitem""".stripMargin,

    "q_profile_heavy" ->
      """SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM lineitem
        |GROUP BY l_partkey
        |HAVING count(*) >= ceil((SELECT count(*) FROM lineitem) * 0.0005)
        |ORDER BY l_partkey""".stripMargin,

    "q_profile_cms" ->
      """WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents)
        |SELECT term, CAST(count(*) AS BIGINT) AS n FROM t
        |GROUP BY term
        |HAVING count(*) >= ceil((SELECT count(*) FROM t) * 0.002)
        |ORDER BY term""".stripMargin,

    "q_upsert" ->
      """WITH t AS (SELECT l_orderkey * 8 + l_linenumber AS k, l_quantity AS q FROM lineitem),
        |u AS (SELECT l_orderkey * 8 + l_linenumber AS k, l_quantity + 100 AS q
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |m AS (SELECT k, q FROM t WHERE k NOT IN (SELECT k FROM u)
        |  UNION ALL SELECT k, q FROM u)
        |SELECT CAST(count(*) AS BIGINT) AS n, sum(q) AS sum_q FROM m""".stripMargin,

    "q_expectations" ->
      """SELECT expectation, violations, violations = 0 AS ok FROM (
        |  SELECT 'not_null_l_orderkey' AS expectation,
        |    CAST(sum(CASE WHEN coalesce(l_orderkey IS NOT NULL, false) THEN 0 ELSE 1 END) AS BIGINT) AS violations
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'non_negative_l_quantity',
        |    CAST(sum(CASE WHEN coalesce(l_quantity >= 0, false) THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'in_range_l_discount',
        |    CAST(sum(CASE WHEN coalesce(l_discount >= 0.0 AND l_discount <= 0.1, false) THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'matches_l_returnflag',
        |    CAST(sum(CASE WHEN coalesce(regexp_matches(l_returnflag, '^[ARN]$'), false) THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM lineitem)
        |ORDER BY expectation""".stripMargin,

    "q_sink_layout" ->
      """SELECT CAST(count(*) AS BIGINT) AS n, sum(l_quantity) AS sum_qty,
        |  CAST(0 AS BIGINT) AS n_rows_outside_partition
        |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin,

    "q_join_bucketed" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_sink_sorted" ->
      """SELECT CAST(count(*) AS BIGINT) AS n, CAST(0 AS BIGINT) AS files_over_cap
        |FROM lineitem WHERE l_orderkey < 1000""".stripMargin,

    "q_sink_zstd" ->
      """SELECT 'ZSTD' AS codecs, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents""".stripMargin,

    "q_sink_compact" ->
      """SELECT CAST(16 AS BIGINT) AS files_before, CAST(2 AS BIGINT) AS files_after,
        |  CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents""".stripMargin,

    "q_snapshot_read" ->
      """WITH fp AS (SELECT source, doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(text[i]) AS BIGINT))),
        |    (acc, c) -> (acc * 131 + c) % 1000000007) AS f
        |  FROM documents),
        |v1 AS (SELECT source, CAST(count(*) AS BIGINT) AS v1_n_docs,
        |  CAST(sum(f) AS BIGINT) AS v1_checksum FROM fp
        |  WHERE doc_id % 2 = 0 GROUP BY source),
        |v2 AS (SELECT source, CAST(count(*) AS BIGINT) AS v2_n_docs,
        |  CAST(sum(f) AS BIGINT) AS v2_checksum FROM fp GROUP BY source)
        |SELECT v1.source, v1_n_docs, v1_checksum, v2_n_docs, v2_checksum,
        |  CAST(0 AS BIGINT) AS n_drift_rows, CAST(2 AS BIGINT) AS current_version
        |FROM v1 JOIN v2 USING (source) ORDER BY source""".stripMargin,

    "q_snapshot_conflict" ->
      """WITH fp AS (SELECT source, doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(text[i]) AS BIGINT))),
        |    (acc, c) -> (acc * 131 + c) % 1000000007) AS f
        |  FROM documents),
        |v2 AS (SELECT source, CAST(count(*) AS BIGINT) AS v2_n_docs,
        |  CAST(sum(f) AS BIGINT) AS v2_checksum FROM fp
        |  WHERE doc_id % 2 = 0 OR doc_id % 4 = 1 GROUP BY source),
        |v3 AS (SELECT source, CAST(count(*) AS BIGINT) AS v3_n_docs,
        |  CAST(sum(f) AS BIGINT) AS v3_checksum FROM fp GROUP BY source)
        |SELECT v2.source, v2_n_docs, v2_checksum, v3_n_docs, v3_checksum,
        |  CAST(2 AS BIGINT) AS winner_version,
        |  CAST(3 AS BIGINT) AS loser_version,
        |  CAST(1 AS BIGINT) AS n_stale_rejected
        |FROM v2 JOIN v3 USING (source) ORDER BY source""".stripMargin,

    "q_pipeline_ingest_tick" ->
      """WITH fp AS (SELECT source, doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(text[i]) AS BIGINT))),
        |    (acc, c) -> (acc * 131 + c) % 1000000007) AS f
        |  FROM documents),
        |v1 AS (SELECT source, CAST(count(*) AS BIGINT) AS v1_n_docs,
        |  CAST(sum(f) AS BIGINT) AS v1_checksum FROM fp
        |  WHERE doc_id % 2 = 0 GROUP BY source),
        |cur AS (SELECT source, CAST(count(*) AS BIGINT) AS cur_n_docs,
        |  CAST(sum(f) AS BIGINT) AS cur_checksum FROM fp GROUP BY source)
        |SELECT v1.source, v1_n_docs, v1_checksum, cur_n_docs, cur_checksum
        |FROM v1 JOIN cur USING (source) ORDER BY source""".stripMargin,

    "q_sink_jsonl" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(text[i]) AS BIGINT))),
        |    (acc, c) -> (acc * 131 + c) % 1000000007)) AS BIGINT) AS checksum,
        |  CAST(0 AS BIGINT) AS n_quarantined
        |FROM documents""".stripMargin,

    "q_snapshot_expire" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(text[i]) AS BIGINT))),
        |    (acc, c) -> (acc * 131 + c) % 1000000007)) AS BIGINT) AS checksum,
        |  CAST(0 AS BIGINT) AS n_drift_rows, CAST(0 AS BIGINT) AS n_expired_readable,
        |  CAST(0 AS BIGINT) AS n_gc_leftover, CAST(0 AS BIGINT) AS n_gc_missing,
        |  CAST(1 AS BIGINT) AS n_gc_ran
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_corpus_manifest" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(text[i]) AS BIGINT))),
        |    (acc, c) -> (acc * 131 + c) % 1000000007)) AS BIGINT) AS checksum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_profile_skew" ->
      """WITH k AS (SELECT CASE WHEN l_orderkey % 10 = 0 THEN 'hot'
        |    ELSE 'k' || (l_orderkey % 97) END AS key
        |  FROM lineitem),
        |c AS (SELECT key, CAST(count(*) AS BIGINT) AS n_rows FROM k GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM k),
        |top AS (SELECT key, n_rows FROM c ORDER BY n_rows DESC, key LIMIT 5)
        |SELECT key, n_rows,
        |  CAST(n_rows * 1000000 // (SELECT total FROM t) AS BIGINT) AS share_micro,
        |  CAST(greatest(1, (n_rows * 32 + (SELECT total FROM t) - 1)
        |    // (SELECT total FROM t)) AS BIGINT) AS suggested_salt
        |FROM top ORDER BY n_rows DESC, key""".stripMargin,

    "q_profile_lenhist" ->
      """WITH n AS (SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |b AS (SELECT n, CAST(length(printf('%b', n)) - 1 AS BIGINT) AS bucket_log2
        |  FROM n WHERE n > 0)
        |SELECT bucket_log2, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(n) AS min_tokens, max(n) AS max_tokens
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_profile_health" ->
      """WITH aug AS (SELECT source, text FROM documents
        |  UNION ALL SELECT source, text FROM documents WHERE doc_id % 9 = 0
        |  UNION ALL SELECT source, 'stub' FROM documents WHERE doc_id % 13 = 0),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS toks,
        |    CAST(sum(length(text)) AS BIGINT) AS chars,
        |    CAST(sum(CASE WHEN length(text) < 100 THEN 1 ELSE 0 END) AS BIGINT) AS short,
        |    CAST(count(DISTINCT text) AS BIGINT) AS dst
        |  FROM aug GROUP BY source)
        |SELECT source, n_docs,
        |  CAST(toks // n_docs AS BIGINT) AS avg_tokens,
        |  CAST(chars // n_docs AS BIGINT) AS avg_chars,
        |  CAST(short * 1000000 // n_docs AS BIGINT) AS short_micro,
        |  CAST((n_docs - dst) * 1000000 // n_docs AS BIGINT) AS dup_micro
        |FROM a ORDER BY source""".stripMargin,

    "q_corpus_manifest_diff" ->
      """WITH ma AS (SELECT source, CAST(count(*) AS BIGINT) AS da,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS ta,
        |    CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1), i -> CAST(ascii(text[i]) AS BIGINT))),
        |      (acc, c) -> (acc * 131 + c) % 1000000007)) AS BIGINT) AS ca
        |  FROM documents GROUP BY source),
        |b0 AS (SELECT source, doc_id,
        |    text || CASE WHEN doc_id % 13 = 0 THEN ' updated' ELSE '' END AS text
        |  FROM documents WHERE doc_id % 17 <> 0),
        |mb AS (SELECT source, CAST(count(*) AS BIGINT) AS db,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS tb,
        |    CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1), i -> CAST(ascii(text[i]) AS BIGINT))),
        |      (acc, c) -> (acc * 131 + c) % 1000000007)) AS BIGINT) AS cb
        |  FROM b0 GROUP BY source)
        |SELECT source,
        |  coalesce(da, 0) AS n_docs_prior, coalesce(db, 0) AS n_docs_next,
        |  coalesce(db, 0) - coalesce(da, 0) AS n_docs_delta,
        |  coalesce(tb, 0) - coalesce(ta, 0) AS n_tokens_delta,
        |  coalesce(ca, -1) <> coalesce(cb, -1) AS content_changed
        |FROM ma FULL OUTER JOIN mb USING (source)
        |ORDER BY source""".stripMargin,

    "q_corpus_manifest_incr" ->
      // Recomputed from the raw union — the merge must equal this exactly.
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(text[i]) AS BIGINT))),
        |    (acc, c) -> (acc * 131 + c) % 1000000007)) AS BIGINT) AS checksum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_sample_topfrac_dist" ->
      """WITH sc AS (SELECT doc_id,
        |  (CASE WHEN CAST(length(text) AS DOUBLE) >= 50 AND CAST(length(text) AS DOUBLE) <= 10000
        |     THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
        |   + CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE))
        |   + (CAST(1.0 AS DOUBLE) - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE)) * 5, CAST(1.0 AS DOUBLE)))
        |  ) / CAST(3.0 AS DOUBLE) AS quality
        |  FROM documents),
        |r AS (SELECT doc_id, quality,
        |    row_number() OVER (ORDER BY quality DESC, doc_id) AS rn FROM sc)
        |SELECT doc_id, quality FROM r
        |WHERE rn <= ceil(0.3 * (SELECT count(*) FROM sc))
        |ORDER BY doc_id""".stripMargin,

    "q_sample_topfrac" ->
      """WITH sc AS (SELECT doc_id,
        |  (CASE WHEN CAST(length(text) AS DOUBLE) >= 50 AND CAST(length(text) AS DOUBLE) <= 10000
        |     THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
        |   + CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE))
        |   + (CAST(1.0 AS DOUBLE) - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE)) * 5, CAST(1.0 AS DOUBLE)))
        |  ) / CAST(3.0 AS DOUBLE) AS quality
        |  FROM documents),
        |r AS (SELECT doc_id, quality,
        |    row_number() OVER (ORDER BY quality DESC, doc_id) AS rn FROM sc)
        |SELECT doc_id, quality FROM r
        |WHERE rn <= ceil(0.3 * (SELECT count(*) FROM sc))
        |ORDER BY doc_id""".stripMargin,

    "q_sample_topfrac_auto" ->
      """WITH sc AS (SELECT doc_id,
        |  (CASE WHEN CAST(length(text) AS DOUBLE) >= 50 AND CAST(length(text) AS DOUBLE) <= 10000
        |     THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
        |   + CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE))
        |   + (CAST(1.0 AS DOUBLE) - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE)) * 5, CAST(1.0 AS DOUBLE)))
        |  ) / CAST(3.0 AS DOUBLE) AS quality
        |  FROM documents),
        |r AS (SELECT doc_id, quality,
        |    row_number() OVER (ORDER BY quality DESC, doc_id) AS rn FROM sc)
        |SELECT doc_id, quality FROM r
        |WHERE rn <= ceil(0.3 * (SELECT count(*) FROM sc))
        |ORDER BY doc_id""".stripMargin,

    "q_schema_evolution" ->
      """WITH e AS (SELECT count(*) AS n FROM documents WHERE doc_id % 2 = 0),
        |o AS (SELECT count(*) AS n FROM documents WHERE doc_id % 2 = 1)
        |SELECT 1 AS rev, CAST((SELECT n FROM e) AS BIGINT) AS n_rows,
        |  CAST(0 AS BIGINT) AS n_lang
        |UNION ALL
        |SELECT 2, CAST((SELECT n FROM o) AS BIGINT), CAST((SELECT n FROM o) AS BIGINT)
        |ORDER BY rev""".stripMargin,

    "q_sink_zorder" ->
      """WITH m AS (SELECT CAST(min(l_partkey) AS BIGINT) AS nx, CAST(max(l_partkey) AS BIGINT) AS xx,
        |    CAST(min(l_suppkey) AS BIGINT) AS ny, CAST(max(l_suppkey) AS BIGINT) AS xy
        |  FROM lineitem),
        |b AS (SELECT nx, xx, ny, xy,
        |    nx AS x1, nx + (xx - nx) // 4 AS x2,
        |    ny + (xy - ny) // 2 AS y1, xy AS y2 FROM m),
        |r AS (SELECT l.l_quantity,
        |    least(15, (l.l_partkey - b.nx) * 16 // (b.xx - b.nx + 1)) AS bx,
        |    least(15, (l.l_suppkey - b.ny) * 16 // (b.xy - b.ny + 1)) AS byy
        |  FROM lineitem l, b
        |  WHERE l.l_partkey BETWEEN b.x1 AND b.x2 AND l.l_suppkey BETWEEN b.y1 AND b.y2),
        |zrows AS (SELECT l_quantity,
        |    ((bx % 2)*1 + (byy % 2)*2 + ((bx//2) % 2)*4 + ((byy//2) % 2)*8
        |     + ((bx//4) % 2)*16 + ((byy//4) % 2)*32 + ((bx//8) % 2)*64 + ((byy//8) % 2)*128) // 16 AS zb
        |  FROM r),
        |cells AS (SELECT DISTINCT
        |    ((gx.bx % 2)*1 + (gy.byy % 2)*2 + ((gx.bx//2) % 2)*4 + ((gy.byy//2) % 2)*8
        |     + ((gx.bx//4) % 2)*16 + ((gy.byy//4) % 2)*32 + ((gx.bx//8) % 2)*64 + ((gy.byy//8) % 2)*128) // 16 AS zb
        |  FROM
        |    (SELECT unnest(range(least(15, (b.x1 - b.nx) * 16 // (b.xx - b.nx + 1)),
        |                         least(15, (b.x2 - b.nx) * 16 // (b.xx - b.nx + 1)) + 1)) AS bx FROM b) gx,
        |    (SELECT unnest(range(least(15, (b.y1 - b.ny) * 16 // (b.xy - b.ny + 1)),
        |                         least(15, (b.y2 - b.ny) * 16 // (b.xy - b.ny + 1)) + 1)) AS byy FROM b) gy)
        |SELECT CAST(count(*) AS BIGINT) AS n, sum(l_quantity) AS sum_qty,
        |  CAST(count(DISTINCT zb) AS BIGINT) AS n_buckets_box,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cells) AS n_buckets_list,
        |  (SELECT count(*) < 16 FROM cells) AS dir_pruned,
        |  CAST(0 AS BIGINT) AS files_over_buckets
        |FROM zrows""".stripMargin,

    // Composition of the certified fragments: q_text_langid + q_text_quality
    // (gates), q_dedup_exact_rows (exact), q_dedup_minhash_poly +
    // q_dedup_cluster_keep (near-dup components), q_sample_hash (sample).
    "q_pipeline_curation" ->
      """WITH RECURSIVE
        |aug AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' graft dup tail' FROM documents),
        |corpus AS (SELECT doc_id, text FROM aug WHERE doc_id % 4 = 0),
        |lt AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM corpus),
        |lv AS (SELECT doc_id,
        |    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], x))) AS s_de,
        |    len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that'], x))) AS s_en,
        |    len(list_filter(toks, x -> list_contains(['el','la','de','que','y','los','es','un'], x))) AS s_es,
        |    len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','un','une'], x))) AS s_fr,
        |    len(list_filter(toks, x -> list_contains(['的','是','了','在','我','有','和','不'], x))) AS s_zh
        |  FROM lt),
        |lang AS (SELECT doc_id, CASE
        |    WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
        |    WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
        |    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |    ELSE 'de' END AS lang_id
        |  FROM lv),
        |gated AS (SELECT c.doc_id, c.text FROM corpus c JOIN lang l USING (doc_id)
        |  WHERE l.lang_id = 'en' AND
        |    (CASE WHEN CAST(length(c.text) AS DOUBLE) >= 50 AND CAST(length(c.text) AS DOUBLE) <= 10000
        |       THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
        |     + CAST(len(regexp_extract_all(c.text, '[A-Za-z]')) AS DOUBLE) / greatest(CAST(length(c.text) AS DOUBLE), CAST(1.0 AS DOUBLE))
        |     + (CAST(1.0 AS DOUBLE) - least(CAST(len(regexp_extract_all(c.text, '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(CAST(length(c.text) AS DOUBLE), CAST(1.0 AS DOUBLE)) * 5, CAST(1.0 AS DOUBLE)))
        |    ) / CAST(3.0 AS DOUBLE) >= 0.9),
        |ex AS (SELECT doc_id AS id, text FROM (
        |    SELECT doc_id, text, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        |    FROM gated)
        |  WHERE rn = 1),
        |toks AS (SELECT id, string_split_regex(trim(text), '\s+') AS w FROM ex),
        |grams AS (SELECT id,
        |    CASE WHEN len(w) >= 3
        |      THEN list_transform(range(1, len(w) - 1), i -> array_to_string(list_slice(w, i, i + 2), ' '))
        |      ELSE [] END AS gs
        |  FROM toks),
        |sigs AS (SELECT id, list_transform(range(0, 64), i ->
        |      list_min(list_transform(gs, g ->
        |        ((2 * i + 1) * list_reduce(list_prepend(CAST(0 AS BIGINT),
        |            list_transform(range(1, length(g) + 1), j -> CAST(ascii(g[j]) AS BIGINT))),
        |            (acc, c) -> (acc * 131 + c) % 1000000007)
        |          + (31 * i + 7)) % 1000000007))) AS sig
        |  FROM grams WHERE len(gs) > 0),
        |banded AS (SELECT id, sig, b AS band,
        |    array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), ',') AS key
        |  FROM sigs, range(0, 16) t(b)),
        |pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id
        |  WHERE CAST(len(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 64.0 >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(a, b) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a),
        |kept AS (SELECT id FROM ex
        |  WHERE id NOT IN (SELECT id FROM comp WHERE id <> comp))
        |SELECT id AS doc_id FROM kept
        |WHERE (id * 2654435761) % 4294967296 % 2 < 1
        |ORDER BY doc_id""".stripMargin
  )
}
