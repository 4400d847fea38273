package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: tokenization,
  * language ID, quality scoring, fingerprinting. All pure Catalyst column
  * expressions — codegen'd, no UDF boundary, trivially distributed.
  */
object TextAnalysis {

  /** Whitespace tokens. A single-space split matches the corpus generator;
    * use [[tokensWs]] for arbitrary whitespace.
    */
  def tokens(text: Column): Column = split(text, " ")
  def tokensWs(text: Column): Column = split(trim(text), "\\s+")

  /** Stage-zero Unicode hygiene (NFC + control strip + space/tab collapse
    * + end trim — [[graft.functions.NormImpl]] has the exact contract):
    * run BEFORE tokenization or any fingerprint/signature so canonically
    * equal but byte-different text dedups together. One codegen'd pass.
    */
  def normalizeText(text: Column): Column =
    graft.functions.TextKernels.normText(text)

  /** Markdown → plain prose — the format-strip pass a crawl/docs corpus
    * runs before tokenization and quality scoring (README/wiki/docs
    * sources arrive as markdown; its syntax characters skew every
    * punctuation-ratio gate and link targets pollute n-grams). A fixed
    * chain of codegen'd `regexp_replace` steps in the RE2-compatible
    * subset (no lookaround, no pattern backrefs — the [[Redaction]]
    * discipline), so the SAME pattern strings replay in the DuckDB
    * oracle: fenced code drops whole, inline code/emphasis keep their
    * body, images and links keep alt/anchor text (the target URL is the
    * noise), heading/blockquote markers and horizontal rules strip, and
    * whitespace collapses to single spaces. Order matters and is pinned:
    * fences before anything (their content must not be re-parsed),
    * images before links (a link pattern would leave the image bang),
    * rules before emphasis (a `***` line is a rule, not nested bold).
    * Plain-prose extraction, not a spec-grade parser: an intraword
    * `snake_case` underscore pair reads as emphasis — acceptable for a
    * gate-input transform, stated rather than hidden.
    */
  def markdownToText(text: Column): Column = {
    val steps: Seq[(String, String)] = Seq(
      "(?s)```.*?```" -> " ",
      "`([^`]*)`" -> "$1",
      "!\\[([^\\]]*)\\]\\(([^()]*)\\)" -> "$1",
      "\\[([^\\]]*)\\]\\(([^()]*)\\)" -> "$1",
      "(?m)^#{1,6}[ \\t]+" -> "",
      "(?m)^>[ \\t]*" -> "",
      "(?m)^[-*_]{3,}[ \\t]*$" -> "",
      "\\*{1,3}([^*]+)\\*{1,3}" -> "$1",
      "_{1,3}([^_]+)_{1,3}" -> "$1")
    val stripped = steps.foldLeft(text) {
      case (c, (p, r)) => regexp_replace(c, p, r)
    }
    trim(regexp_replace(stripped, "\\s+", " "))
  }

  /** Sentence segmentation — the boundary provider for chunking, span
    * decontamination and repetition metrics when token windows must not
    * cut mid-sentence. Punctuation-run splitter, stated as one regex both
    * engines run identically (`[^.!?]+[.!?]*`: a sentence is a maximal
    * punctuation-free run plus its trailing terminator run, so "Done..."
    * stays one sentence); segments trim and empties drop. The HOF
    * trim/filter runs per-sentence (a handful of elements), not
    * per-character — outside finding-15 territory.
    */
  def sentences(text: Column): Column =
    filter(
      transform(regexp_extract_all(text, lit("[^.!?]+[.!?]*"), lit(0)), trim(_)),
      _ =!= "")

  /** Token count (whitespace). */
  def tokenCount(text: Column): Column = size(tokensWs(text))

  /** BPE-ish subword-unit count: alphabetic runs, digit runs and single
    * punctuation marks each count as one unit — a cheap deterministic proxy
    * for a byte-pair tokenizer's token count.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Language ID by stopword voting: per candidate language, count tokens in
    * its (tiny, literal) stopword set; argmax wins, 'und' when no hits.
    * An n-gram-free heuristic that stays in codegen; sets are broadcastable
    * literals.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es", "un"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  def langScore(text: Column, lang: String): Column = {
    val set = array(stopwords(lang).map(lit(_)): _*)
    size(filter(tokensWs(lower(text)), t => array_contains(set, t)))
  }

  def langId(text: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted // deterministic vote order
    val scores = langs.map(l => struct(langScore(text, l).as("s"), lit(l).as("l")))
    val best = array_max(array(scores: _*)) // max by (score, then lang desc)
    when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und"))
  }

  /** Language ID as a codegen'd aggregation (same values as [[langId]],
    * whose per-token HOF lambdas evaluate interpreted — ~20× slower at
    * corpus scale): explode lowercased tokens once, take one conditional
    * `sum` per language (map-side partial aggregation, literal stopword
    * sets fold into codegen), then the same max-by-(score, lang-desc)
    * tie-break as the column form.
    */
  def langIdBy(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val langs = stopwords.keys.toSeq.sorted
    val toks = df.select(col(idCol), explode(tokensWs(lower(col(textCol)))).as("__t"))
    val sums = langs.map { l =>
      val set = array(stopwords(l).map(lit(_)): _*)
      sum(when(array_contains(set, col("__t")), 1).otherwise(0)).as(s"__s_$l")
    }
    val scored = toks.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
    val best = greatest(langs.map(l => col(s"__s_$l")): _*)
    // max-by (score, lang) with lang tie-break descending (zh > fr > … > de),
    // matching the struct array_max semantics of [[langId]].
    val ordered = langs.sorted.reverse
    val winner = ordered.init.foldRight(lit(ordered.last): Column) { (l, rest) =>
      when(col(s"__s_$l") === best, lit(l)).otherwise(rest)
    }
    scored.select(col(idCol),
      when(best === 0, lit("und")).otherwise(winner).as("lang_id"))
  }

  /** Mixed-language detection — the curation signal doc-level language ID
    * hides: a page that is 90% English with an embedded German paragraph
    * IDs as English and poisons a monolingual corpus anyway. Lines
    * language-ID individually (the [[langIdBy]] aggregation shape, keyed
    * per line), then per document: line count, the MAJORITY line language
    * (ties → lexicographically last, the max-struct contract), how many
    * lines agree, and a `mixed` flag when any line disagrees. Blank lines
    * are structure and don't vote.
    *
    * Shape: one token explode keyed on (doc, line) with map-side partial
    * conditional sums, then two line-count-sized aggregations — the
    * corpus text shuffles once, as tokens.
    */
  def langMixBy(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val langs = stopwords.keys.toSeq.sorted
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("__li", "__line")))
      .filter(col("__line") =!= "")
    val toks = lines.select(col(idCol), col("__li"),
      explode(tokensWs(lower(col("__line")))).as("__t"))
    val sums = langs.map { l =>
      val set = array(stopwords(l).map(lit(_)): _*)
      sum(when(array_contains(set, col("__t")), 1).otherwise(0)).as(s"__s_$l")
    }
    val scored = toks.groupBy(col(idCol), col("__li")).agg(sums.head, sums.tail: _*)
    val best = greatest(langs.map(l => col(s"__s_$l")): _*)
    val ordered = langs.sorted.reverse
    val winner = ordered.init.foldRight(lit(ordered.last): Column) { (l, rest) =>
      when(col(s"__s_$l") === best, lit(l)).otherwise(rest)
    }
    val lineLangs = scored.select(col(idCol), col("__li"),
      when(best === 0, lit("und")).otherwise(winner).as("__lang"))
    val perLang = lineLangs.groupBy(col(idCol), col("__lang"))
      .agg(count(lit(1)).as("__cnt"))
    perLang.groupBy(col(idCol))
      .agg(sum(col("__cnt")).as("n_lines"),
        max(struct(col("__cnt"), col("__lang"))).as("__m"))
      .select(col(idCol), col("n_lines"),
        col("__m.__lang").as("main_lang"), col("__m.__cnt").as("n_main"))
      .withColumn("n_other", col("n_lines") - col("n_main"))
      .withColumn("mixed", col("n_other") > 0)
  }

  /** Quality signals (length, token stats, punctuation/alpha ratios,
    * stopword ratio) and a composite score in [0,1]. All ratios are exact
    * integer-count divisions — deterministic across engines.
    */
  def qualitySignals(text: Column): Seq[(String, Column)] = {
    val n = length(text).cast("double")
    val toks = tokensWs(text)
    val nTok = size(toks).cast("double")
    val punct = size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double")
    val alpha = size(regexp_extract_all(text, lit("[A-Za-z]"), lit(0))).cast("double")
    val enSet = array(stopwords("en").map(lit(_)): _*)
    val stop = size(filter(toks, t => array_contains(enSet, lower(t)))).cast("double")
    Seq(
      "n_chars" -> n,
      "n_tokens" -> nTok,
      "mean_token_len" -> (alpha / greatest(nTok, lit(1.0))),
      "punct_ratio" -> (punct / greatest(n, lit(1.0))),
      "alpha_ratio" -> (alpha / greatest(n, lit(1.0))),
      "stopword_ratio" -> (stop / greatest(nTok, lit(1.0))))
  }

  /** Composite quality score: mean of clamped signal contributions. */
  def qualityScore(text: Column): Column = {
    val s = qualitySignals(text).toMap
    val lengthOk = when(s("n_chars") >= 50 && s("n_chars") <= 10000, 1.0).otherwise(0.0)
    val alphaOk = s("alpha_ratio")
    val punctOk = lit(1.0) - least(s("punct_ratio") * 5, lit(1.0))
    (lengthOk + alphaOk + punctOk) / lit(3.0)
  }

  /** Document fingerprint: polynomial rolling hash of the character codes,
    * `h = (h*131 + code(c)) mod 1e9+7` — a pure integer fold, bit-identical
    * in any engine (the DuckDB oracle reproduces it with list_reduce).
    * Backed by the codegen'd [[graft.functions.PolyFingerprint]] kernel;
    * the pure-built-ins HOF form is `CodegenFallback` and pays interpreted
    * lambda dispatch per character — it dominated the poly-hash dedup
    * certificates, which fingerprint every exploded shingle. Kernel ≡ HOF
    * is pinned by `TextAnalysisSpec`.
    */
  def fingerprint(text: Column): Column =
    graft.functions.TextKernels.polyFingerprint(text)

  /** Character n-gram set (distinct), for Jaccard-style similarity.
    * Inputs shorter than n yield an empty set (guarded: Spark `sequence(1,0)`
    * counts DOWN, so the upper bound must never fall below the lower).
    */
  def charNgrams(text: Column, n: Int): Column =
    when(length(text) >= n,
      array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => substring(text, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Word n-gram ("shingle") set (distinct). Fewer than n tokens yields an
    * empty set (same descending-`sequence` guard as [[charNgrams]]).
    */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = tokensWs(text)
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Jaccard similarity of two distinct-element arrays: |∩| / |∪| with
    * |∪| = |A| + |B| − |∩| — integer counts, exact division.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter).cast("double")
  }

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.Window

  /** Distinct word- and char-n-gram counts per doc (the q_text_ngrams
    * kernel): both counts compute in one compiled kernel pass per row
    * ([[graft.functions.SigKernels]]) — a pure map, no explode / window /
    * groupBy / join (the round-4 exploded form, pinned by SigKernelsSpec,
    * shuffled one row per token AND per character). Docs with no grams
    * count 0 (kernel semantics).
    */
  def ngramCountsBy(
      df: DataFrame, idCol: String, textCol: String,
      wordN: Int, charN: Int): DataFrame =
    df.select(col(idCol),
      graft.functions.SigKernels.wordNgramCount(col(textCol), wordN)
        .cast("long").as(s"n_${wordN}grams"),
      graft.functions.SigKernels.charNgramCount(col(textCol), charN)
        .cast("long").as(s"n_char$charN"))

  /** word2phrase collocation mining (Mikolov et al. 2013, the word2vec
    * phrase tool): corpus-level bigram score
    *
    *   score(a b) = (n_ab − δ) · N / (n_a · n_b)
    *
    * — how far the bigram's observed count exceeds the independence
    * expectation, with the δ discount suppressing rare-word flukes. Pairs
    * scoring above the threshold become vocabulary phrases ("new york" →
    * one token), the standard pre-tokenization step for phrase-aware
    * embeddings and vocabularies.
    *
    * Exactness: the score is computed ENTIRELY in integers —
    * `(n_ab − δ) · N · 10⁶ div (n_a · n_b)` over DECIMAL(38,0) (the
    * cross-multiplied form would overflow 2⁶³ at corpus scale: counts ·
    * total · 10⁶ reaches ~10³⁸ long before 100 TB), truncating division,
    * positive operands only (`minCount > δ` is required) — so Spark and a
    * sequential oracle agree bit-for-bit at any aggregation order.
    *
    * Shape at scale: one posexplode + per-doc `lead` window (token rows,
    * keyed on the doc id), then two slim word-keyed count shuffles with
    * map-side partials; the unigram table joins back onto the BIGRAM
    * AGGREGATE (vocab²-bounded, not corpus-bounded), and the one-row total
    * broadcasts. Hot words (stopwords) collapse map-side in the counts.
    */
  def phrasesBy(df: DataFrame, idCol: String, textCol: String,
      delta: Long = 5L, thrMicro: Long = 5000000L,
      minCount: Long = 6L): DataFrame = {
    require(minCount > delta,
      s"minCount ($minCount) must exceed delta ($delta): the discounted " +
        "count must stay positive for the truncating division to be " +
        "engine-independent")
    val toks = df.select(col(idCol).as("__id"),
      posexplode(tokensWs(col(textCol))).as(Seq("__pos", "__tok")))
    val w = Window.partitionBy(col("__id")).orderBy(col("__pos"))
    val pairs = toks.withColumn("__next", lead(col("__tok"), 1).over(w))
    val uni = toks.groupBy(col("__tok").as("word"))
      .agg(count(lit(1)).as("n_w"))
    val bi = pairs.filter(col("__next").isNotNull)
      .groupBy(col("__tok").as("w1"), col("__next").as("w2"))
      .agg(count(lit(1)).as("n_ab"))
    val total = toks.agg(count(lit(1)).as("__n"))
    bi.filter(col("n_ab") >= minCount)
      .join(uni.select(col("word").as("w1"), col("n_w").as("n_a")), "w1")
      .join(uni.select(col("word").as("w2"), col("n_w").as("n_b")), "w2")
      .crossJoin(broadcast(total))
      .withColumn("score_micro", expr(
        s"CAST((CAST(n_ab - $delta AS DECIMAL(38,0)) * __n * 1000000) div " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"))
      .filter(col("score_micro") > thrMicro)
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        col("score_micro"))
  }

  /** Gopher-style repetition metrics per document: duplicate-token fraction
    * and the share of tokens claimed by the single most frequent bigram —
    * the cheap signals that catch boilerplate / keyword-stuffed / looping
    * text which length and punctuation ratios miss.
    *
    * Shape at scale: the per-row signals (token count, distinct count) are
    * native array expressions (no lambda); the top-bigram count is the
    * exploded formulation — posexplode + per-doc `lead` window + count +
    * max, one shuffle keyed on the doc id (a per-row HOF would evaluate an
    * interpreted O(tokens²) fold per document). All fractions are
    * integer-over-integer divisions — exact in any engine.
    */
  def repetitionBy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol),
      size(tokensWs(col(textCol))).cast("long").as("n_tokens"),
      size(array_distinct(tokensWs(col(textCol)))).cast("long").as("n_distinct"))
    val toks = df.select(col(idCol), posexplode(tokensWs(col(textCol))).as(Seq("__pos", "__tok")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val top = toks
      .withColumn("__next", lead(col("__tok"), 1).over(w))
      .filter(col("__next").isNotNull)
      .select(col(idCol), concat_ws(" ", col("__tok"), col("__next")).as("__bg"))
      .groupBy(col(idCol), col("__bg")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol)).agg(max(col("__c")).as("__top"))
    base.join(top, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        ((col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"))
          .as("dup_token_frac"),
        coalesce(col("__top"), lit(0L)).as("top_bigram_n"),
        ((coalesce(col("__top"), lit(0L)) * 2).cast("double") / col("n_tokens"))
          .as("top_bigram_frac"))
  }

  /** Segment-level repetition metrics — the line/paragraph half of
    * Gopher's repetition family (Rae et al. 2021 Appendix A;
    * [[repetitionBy]] covers the token/bigram half): per document, the
    * fraction of segments that are duplicates and the fraction of
    * CHARACTERS sitting in occurrences beyond each segment's first — the
    * signal that catches copy-pasted boilerplate blocks which token-level
    * fractions dilute.
    *
    * `sep` picks the segment granularity ("\n" lines, "\n\n" paragraphs);
    * `prefix` names the output columns (`n_<prefix>s`,
    * `n_distinct_<prefix>s`, `dup_<prefix>_frac`,
    * `dup_<prefix>_char_frac`).
    *
    * Shape at scale: explode segments → groupBy(doc, segment) with
    * map-side partials → one doc-keyed aggregate; all fractions are
    * integer-over-integer doubles (exact in any engine). Duplicated-char
    * mass per group is (count − 1) · length — occurrences beyond the
    * first.
    */
  def segmentRepetitionBy(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", prefix: String = "line"): DataFrame = {
    // Pattern.quote: Spark split() takes a REGEX; the separator contract
    // here (and in the DuckDB oracle's string_split) is a LITERAL — an
    // unquoted ". " or "|" would split on every character.
    val segs = df.select(col(idCol),
      explode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as("__seg"))
    val grouped = segs.groupBy(col(idCol), col("__seg"))
      .agg(count(lit(1)).as("__c"),
        first(length(col("__seg")).cast("long")).as("__len"))
    grouped.groupBy(col(idCol))
      .agg(sum(col("__c")).as(s"n_${prefix}s"),
        count(lit(1)).as(s"n_distinct_${prefix}s"),
        sum((col("__c") - 1) * col("__len")).as("__dupc"),
        sum(col("__c") * col("__len")).as("__totc"))
      .select(col(idCol), col(s"n_${prefix}s"), col(s"n_distinct_${prefix}s"),
        ((col(s"n_${prefix}s") - col(s"n_distinct_${prefix}s")).cast("double")
          / col(s"n_${prefix}s")).as(s"dup_${prefix}_frac"),
        when(col("__totc") === 0L, lit(0.0))
          .otherwise(col("__dupc").cast("double") / col("__totc"))
          .as(s"dup_${prefix}_char_frac"))
  }

  /** Corpus-unigram language-model score per document — the CCNet-style
    * quality proxy: each token contributes `ln(count(token)/total)`, i.e.
    * docs made of rare tokens score low (gibberish), docs of pure stopwords
    * score high. Returned as `(id, n_tokens, logp_micro)` with the
    * contribution rounded to integer micro-nats BEFORE the per-doc sum
    * (the bm25 exactness discipline: integer-domain cross-row sums are
    * order-independent, so the oracle matches bit-for-bit).
    *
    * Shape at scale: the vocabulary is a token-keyed aggregate (map-side
    * partials — a stopword never concentrates pre-aggregation rows), kept
    * DISTRIBUTED and joined back onto the token stream (big-big equi-join
    * on the token; hot keys stream through sort-merge, same inherent skew
    * profile as any term-keyed statistic). The grand total rides a one-row
    * broadcast. Nothing lands on the driver.
    */
  def unigramLmScoreBy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.FixedPointLog.{microOfNano, withLnNano}
    val toks = df.select(col(idCol), explode(tokensWs(lower(col(textCol)))).as("__t"))
    val vocab = toks.groupBy(col("__t")).agg(count(lit(1)).as("__cnt"))
    val total = toks.agg(count(lit(1)).as("__total"))
    // The log runs on the VOCAB frame (one row per distinct token — the
    // model artifact), never per token occurrence; tokens join the
    // scored vocab by key (PLANS.md finding 45).
    val scored = withLnNano(
        vocab.crossJoin(broadcast(total)), col("__cnt"), col("__total"), "__lpn")
      .select(col("__t"), microOfNano(col("__lpn")).as("__lp_micro"))
    toks.join(scored, "__t")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lp_micro")).as("logp_micro"))
  }

  /** (id?, prev, w) position stream: each doc's (previous-token, token)
    * pairs as a PURE MAP over the token array (no positional self-join, no
    * window) — the first position carries a null context.
    */
  private def lmPositions(df: DataFrame, textCol: String, keep: Seq[Column]): DataFrame = {
    // Pairs via slice + arrays_zip, NOT a transform(sequence(…)) lambda:
    // higher-order functions are CodegenFallback, and interpreted eval
    // per corpus position is slow and JIT-profile-fragile (PLANS.md
    // finding 46). Every op here is a codegen'd built-in: the previous-
    // token array is the token array shifted right one slot under a null
    // head (the first position's no-context marker), zipped elementwise.
    df.select(keep ++ Seq(tokensWs(lower(col(textCol))).as("__ts")): _*)
      .select(keep ++ Seq(explode(arrays_zip(
        concat(array(lit(null).cast("string")),
          slice(col("__ts"), lit(1), size(col("__ts")) - 1)).as("__prev"),
        col("__ts").as("__w"))).as("__p")): _*)
      .select(keep ++ Seq(col("__p.__prev").as("__prev"), col("__p.__w").as("__w")): _*)
  }

  /** Stupid-Backoff bigram language-model score (Brants et al. 2007, "Large
    * Language Models in Machine Translation"), trained on `train` and
    * scored over `df` — the CCNet shape: fit the LM on a trusted reference
    * corpus (CCNet uses Wikipedia), score the crawl, and gate on the score.
    * Position i contributes `ln(c(prev,w)/c(prev))` when the reference has
    * seen the bigram, else the backoff `ln(0.4 · c(w)/N)` (an
    * unseen-in-reference token clamps c(w) to 1: maximally penalized but
    * finite); a document's first token has no context and always scores
    * the backoff branch. Natural text rides the bigram branch; shuffled or
    * gibberish text of the SAME tokens — invisible to [[unigramLmScoreBy]]
    * — falls to the penalized backoff. Returns
    * `(id, n_tokens, n_bigram_hits, logp_micro)`, every contribution
    * rounded to integer micro-nats BEFORE the per-doc sum (order-exact,
    * oracle-reproducible); `n_bigram_hits` (seen-context positions) is
    * itself a usable fluency signal.
    *
    * Shape at scale: both position streams are pure maps; the count tables
    * are token-keyed aggregates with map-side partials, kept DISTRIBUTED
    * and equi-joined back onto the scored stream — term-keyed joins with
    * the same inherent skew profile as any term statistic. The grand total
    * rides a one-row broadcast. Nothing lands on the driver.
    */
  def bigramBackoffScoreAgainst(train: DataFrame, df: DataFrame,
      idCol: String, textCol: String,
      alphaNum: Long = 2L, alphaDen: Long = 5L): DataFrame = {
    require(alphaNum > 0 && alphaDen > 0 && alphaNum <= alphaDen,
      s"backoff alpha must be a rational in (0, 1]: $alphaNum/$alphaDen")
    import graft.functions.FixedPointLog.{lnNanoCol, microOfNano}
    val trainPos = lmPositions(train, textCol, Seq.empty)
    // The count tables are materialized once: they are O(train vocab) —
    // the artifact, not the corpus — and without this the plan evaluates
    // the train-side explode FIVE times (cu twice for the w/prev probes,
    // cb, the grand total, and nothing reused: round-9 plan audit counted
    // 5 parquet scans). With it: train explodes once per table, the score
    // side once. N = Σ c(w) reads the materialized cu (sum of longs —
    // exactly the position count).
    val cu = trainPos.groupBy(col("__w")).agg(count(lit(1)).as("__cw"))
      .localCheckpoint()
    val total = cu.agg(sum(col("__cw")).as("__total"))
    val cb = trainPos.filter(col("__prev").isNotNull)
      .groupBy(col("__prev"), col("__w")).agg(count(lit(1)).as("__cbw"))
      .localCheckpoint()
    lmPositions(df, textCol, Seq(col(idCol)))
      .join(cb, Seq("__prev", "__w"), "left") // null prev never matches → backoff
      .join(cu, Seq("__w"), "left")
      .join(cu.select(col("__w").as("__prev"), col("__cw").as("__cprev")),
        Seq("__prev"), "left")
      .crossJoin(broadcast(total))
      // Both branches run the fixed-point integer log (no engine-native
      // ln reaches a compared value): ln(α·c/N) = lnNano(αnum·c, αden·N).
      // Per-position is fine: lnNanoCol is one codegen'd kernel call
      // (PLANS.md finding 45), and joining precomputed logs instead was
      // measured SLOWER — the scored frames are join outputs whose size
      // estimate disables the auto-broadcast the checkpointed raw count
      // tables get, turning both probe joins into shuffles (+3 jobs, 10×).
      .withColumn("__lpm", when(col("__cbw").isNotNull,
          microOfNano(lnNanoCol(col("__cbw"), col("__cprev"))))
        .otherwise(microOfNano(lnNanoCol(
          lit(alphaNum) * coalesce(col("__cw"), lit(1L)),
          lit(alphaDen) * col("__total")))))
      .withColumn("__hit", when(col("__cbw").isNotNull, lit(1L)).otherwise(lit(0L)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__hit")).as("n_bigram_hits"),
        sum(col("__lpm")).as("logp_micro"))
  }

  /** CCNet-style head/middle/tail split of a corpus by reference-LM score
    * (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data"): score every document against the
    * reference LM ([[bigramBackoffScoreAgainst]]), normalize to per-token
    * negated micro-nats (lower = more fluent), and cut the corpus into
    * `head` / `middle` / `tail` at two corpus-relative thresholds — the
    * mean, and the mean of the worse-than-mean remainder. CCNet cuts at
    * fixed percentiles; percentiles of a 100 TB score column need either a
    * global sort or a sketch, so this uses the same-spirit relative cut
    * that stays EXACT at any scale: per-token norms are integer `DIV`s,
    * both thresholds are integer sums-of-longs divided by counts — no
    * sort, no window, no sketch, order-independent to the bit.
    *
    * Keeps the score columns alongside `bucket`, so the split composes
    * with downstream gates (CCNet trains on head, samples middle, drops
    * tail).
    */
  def perplexityBuckets(train: DataFrame, df: DataFrame,
      idCol: String, textCol: String,
      alphaNum: Long = 2L, alphaDen: Long = 5L): DataFrame = {
    // Materialized once: three consumers (both threshold aggregates and the
    // final projection) would otherwise each replay the full LM-score join
    // pipeline — three corpus passes (round-9 plan audit).
    val scored = bigramBackoffScoreAgainst(train, df, idCol, textCol, alphaNum, alphaDen)
      .withColumn("__nn", expr("(-logp_micro) DIV n_tokens")) // positive: lp < 0 always
      .localCheckpoint()
    val m1 = scored.agg(sum(col("__nn")).as("__s1"), count(lit(1)).as("__n1"))
      .select(expr("__s1 DIV greatest(__n1, 1L)").as("__m1"))
    val s1 = scored.crossJoin(broadcast(m1))
    val m2 = s1.filter(col("__nn") > col("__m1"))
      .agg(sum(col("__nn")).as("__s2"), count(lit(1)).as("__n2"))
      .select(expr("__s2 DIV greatest(__n2, 1L)").as("__m2"))
    s1.crossJoin(broadcast(m2))
      .withColumn("bucket",
        when(col("__nn") <= col("__m1"), lit("head"))
          .when(col("__nn") <= coalesce(col("__m2"), col("__m1")), lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col("n_tokens"), col("n_bigram_hits"),
        col("logp_micro"), col("bucket"))
  }

  /** Train and COLLECT the Stupid-Backoff LM as a deployable artifact
    * ([[graft.functions.FrozenLm]]): both count tables aggregate
    * distributed (map-side partials, token keys) and only the RESULT —
    * O(reference vocab + reference bigram vocab), the trained artifact,
    * never the corpus — lands on the driver, the same boundedness
    * discipline as a benchmark gram catalog or a BPE merge list (CCNet
    * ships the equivalent KenLM binary to every worker). The frozen form
    * scores documents as a one-pass kernel with no joins and no state:
    * the batch apply for "score corpus B against corpus A's LM", and the
    * ONLY shape that composes with a stream
    * ([[graft.streaming.StreamingLmGate]]).
    *
    * Pruning (CCNet's real artifact is a PRUNED KenLM; an unpruned table
    * bloats driver memory and task serialization as the reference corpus
    * grows): `minUnigramCount` / `minBigramCount` drop rare entries at the
    * AGGREGATE, distributed, before anything collects; `maxUnigrams` /
    * `maxBigrams` cap the tables at the top-K by (count desc, key asc —
    * deterministic). Defaults keep the artifact EXACT. The certified
    * deviation contract of a pruned artifact vs the unpruned scorer:
    *   - positions whose bigram AND both unigrams survive score
    *     BIT-IDENTICALLY (`total` stays the unpruned position count, so
    *     retained backoff scores do not move);
    *   - a pruned-bigram position falls to the (exact) backoff branch of
    *     its word — the score Stupid-Backoff itself assigns an unseen
    *     bigram;
    *   - a pruned-unigram backoff position clamps c(w) to 1, shifting by
    *     exactly round(ln(c(w))·1e6) ≤ ln(minUnigramCount)·1e6 micro-nats;
    *   - the "bigram kept ⇒ context kept" invariant the kernel relies on
    *     is preserved by construction (bigrams of a pruned context are
    *     dropped with it).
    * TextAnalysisSpec pins all four properties; q_lm_frozen_pruned
    * certifies the pruned kernel against an independently-pruned DuckDB
    * oracle.
    */
  def freezeLm(train: DataFrame, textCol: String = "text",
      alphaNum: Long = 2L, alphaDen: Long = 5L,
      minUnigramCount: Long = 1L,
      minBigramCount: Long = 1L,
      maxUnigrams: Int = Int.MaxValue,
      maxBigrams: Int = Int.MaxValue): graft.functions.FrozenLm = {
    val s = train.sparkSession
    import s.implicits._
    val pos = lmPositions(train, textCol, Seq.empty).localCheckpoint()
    val cuAll = pos.groupBy(col("__w")).agg(count(lit(1)).as("n"))
    // N is the UNPRUNED position count — retained entries score identically
    // to the exact artifact.
    val total = cuAll.agg(sum(col("n"))).as[Long].head()
    val cuKeptF0 =
      if (minUnigramCount > 1L) cuAll.filter(col("n") >= minUnigramCount) else cuAll
    val cuKeptF =
      if (maxUnigrams != Int.MaxValue)
        cuKeptF0.orderBy(col("n").desc, col("__w")).limit(maxUnigrams)
      else cuKeptF0
    val pruningActive = minUnigramCount > 1L || minBigramCount > 1L ||
      maxUnigrams != Int.MaxValue || maxBigrams != Int.MaxValue
    val cu = cuKeptF.as[(String, Long)].collect().toMap
    val cbAll = pos.filter(col("__prev").isNotNull)
      .groupBy(col("__prev"), col("__w")).agg(count(lit(1)).as("n"))
    val cbMin =
      if (minBigramCount > 1L) cbAll.filter(col("n") >= minBigramCount) else cbAll
    // Keep the kernel's "bigram present ⇒ context present" invariant:
    // bigrams whose context unigram was pruned go with it.
    val cbKept0 =
      if (pruningActive)
        cbMin.join(cuKeptF.select(col("__w").as("__prev")), Seq("__prev"), "left_semi")
      else cbMin
    val cbKept =
      if (maxBigrams != Int.MaxValue)
        cbKept0.orderBy(col("n").desc, col("__prev"), col("__w")).limit(maxBigrams)
      else cbKept0
    val cb = cbKept
      .select(concat_ws(" ", col("__prev"), col("__w")).as("k"), col("n"))
      .as[(String, Long)].collect().toMap
    graft.functions.FrozenLm(cu, cb, total, alphaNum, alphaDen)
  }

  /** Character-entropy gibberish score per document: Shannon entropy of the
    * character distribution, in integer micro-nats — near-zero for repeated
    * single characters, high for diverse text; the standard cheap screen
    * for binary-junk / keyboard-mash rows that token heuristics miss.
    *
    * Shape at scale: explode characters → count per (doc, char) — map-side
    * partial aggregation, one doc-keyed shuffle — then per-(doc,char)
    * contributions `-(p)·ln(p)` in integer micro-nats BEFORE the per-doc
    * sum (integer-domain cross-row sum: exact under any aggregation order,
    * oracle-reproducible). The log is the fixed-point integer kernel
    * ([[graft.functions.FixedPointLog]] — same steps in both engines), so
    * no engine-native ln() reaches a compared value: the per-char term is
    * `⌊(−cnt·lnNano(cnt,n) + 500·n) / (1000·n)⌋` (round-half-up at the
    * micro grain; the numerator is never negative since cnt ≤ n).
    * Int64 headroom: cnt·|lnNano| ≤ n·ln(n)·10⁹ stays inside int64 for
    * any document below ~2·10⁸ chars — far past any real row.
    */
  def charEntropyBy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.FixedPointLog.{idiv, withLnNano}
    val chars = df.select(col(idCol),
      length(col(textCol)).cast("long").as("__n"),
      explode(split(col(textCol), "")).as("__c"))
    val counted = chars
      .groupBy(col(idCol), col("__n"), col("__c")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__q", greatest(col("__n"), lit(1L)))
    // One codegen'd kernel call per (doc, char) row — cheap even on this
    // corpus-scale frame (PLANS.md finding 45).
    withLnNano(counted, col("__cnt"), col("__q"), "__lnn")
      .withColumn("__e_micro",
        idiv(-col("__cnt") * col("__lnn")
          + lit(500L) * col("__q"), lit(1000L) * col("__q")))
      .groupBy(col(idCol))
      .agg(min(col("__n")).as("n_chars"), sum(col("__e_micro")).as("entropy_micro"))
  }

  /** Top-V vocabulary coverage per document: the fraction of a doc's tokens
    * that fall inside the corpus's `topV` most frequent tokens — low
    * coverage flags out-of-domain or gibberish docs (the vocabulary-filter
    * quality gate). The top-V pick is tie-broken by token text, so the set
    * — and every downstream number — is a pure function of the corpus.
    *
    * Shape at scale: vocabulary = token-keyed aggregate (map-side
    * partials); top-V = TakeOrdered over the vocab frame (never a full
    * sort materialization); the V-row set broadcasts back onto the token
    * stream — bounded by the caller's V, so the hint is safe.
    */
  def vocabCoverageBy(df: DataFrame, idCol: String, textCol: String, topV: Int): DataFrame = {
    require(topV > 0, "topV must be positive")
    val toks = df.select(col(idCol), explode(tokensWs(lower(col(textCol)))).as("__t"))
    val top = toks.groupBy(col("__t")).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("__t")).limit(topV)
      .select(col("__t"), lit(1L).as("__in"))
    toks.join(broadcast(top), Seq("__t"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__in"), lit(0L))).as("in_vocab"))
      .withColumn("coverage", col("in_vocab").cast("double") / col("n_tokens"))
  }

  /** Split each document into fixed-size token windows with overlap — the
    * context-window operator of RAG indexing and eval-set preparation
    * (chunk size = the embedding/context budget, overlap preserves
    * cross-boundary context). Output: one row per (doc, chunk) with the
    * chunk index, its token count, and the chunk text re-joined on single
    * spaces.
    *
    * Windowing contract (exact integer arithmetic, ANSI-safe): chunk `i`
    * covers tokens `[i·stride, i·stride + chunkTokens)` where `stride =
    * chunkTokens − overlapTokens`; the number of chunks is
    * `max(1, ceil((n − overlap) / stride))`, so every token lands in ≥ 1
    * chunk, consecutive chunks share exactly `overlapTokens` tokens, and
    * an empty/short document still yields its single (possibly short)
    * chunk. Tokens are single-space splits ([[tokens]] — the corpus
    * contract the oracles share).
    *
    * Scale shape: pure map + explode, zero shuffles — chunking 100 TB is
    * scan-bound. Row growth is bounded by ~n/stride per doc.
    */
  def chunkByTokens(
      df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      "overlap must be in [0, chunkTokens)")
    val stride = chunkTokens - overlapTokens
    val toks = tokens(col(textCol))
    // ceil((n - overlap) / stride) in exact integer arithmetic (`/` on
    // Columns is double division; DIV is the integral one — the Packing
    // discipline)
    val nChunks = greatest(lit(1L),
      expr(s"(size(__toks) - $overlapTokens + ${stride - 1}) DIV $stride").cast("long"))
    val start = col("chunk_idx") * lit(stride.toLong)
    df.select(col(idCol), toks.as("__toks"))
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0L), nChunks - 1L)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        size(slice(col("__toks"), (start + 1L).cast("int"), lit(chunkTokens)))
          .cast("long").as("n_tokens"),
        array_join(slice(col("__toks"), (start + 1L).cast("int"), lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** Flesch–Kincaid grade-level readability — the classic quality signal
    * for grade-targeted corpus selection (the FineWeb-Edu neighborhood
    * scores are model-based; FK is the closed-form reference point):
    *
    *   grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59
    *
    * with the standard heuristics: syllables = vowel-group runs
    * (`[aeiouy]+`) per word, min 1; sentences = `[.!?]+` runs, min 1.
    * Integer-micro exact: both rational terms are round-half-up exact
    * integer divisions (39·W·10⁶ / (100·S) and 118·Syl·10⁶ / (10·W)),
    * rounded independently then summed — no double arithmetic anywhere,
    * so the oracle replays the grade bit-for-bit. One explode+aggregate
    * per doc (the word axis); sentence runs count on the un-exploded row.
    */
  /** [[readabilityBy]]'s grade as ONE pure-map column (HOF fold over the
    * token array instead of explode + aggregate) — the STREAM-gate form:
    * stateless, so the same definition filters a live ingest in append
    * mode. Same exact integer arithmetic, spec-pinned equal to the
    * relational form (which remains the corpus-scale path: the HOF fold
    * is CodegenFallback and pays interpreted dispatch per word).
    */
  def fkGradeMicro(text: Column): Column = {
    def idiv(x: Column, y: Column): Column =
      ((x - pmod(x, y)) / y).cast("long")
    def rdiv(a: Column, b: Column): Column = idiv(a * 2 + b, b * 2)
    val toks = tokensWs(text)
    val nWords = size(toks).cast("long")
    val nSents = greatest(size(regexp_extract_all(text, lit("[.!?]+"), lit(0))),
      lit(1)).cast("long")
    val nSyll = aggregate(
      transform(toks, w => greatest(size(regexp_extract_all(lower(w),
        lit("[aeiouy]+"), lit(0))), lit(1)).cast("long")),
      lit(0L), (acc, x) => acc + x)
    rdiv(nWords * 39L * 1000000L, nSents * 100L) +
      rdiv(nSyll * 118L * 1000000L, nWords * 10L) - lit(15590000L)
  }

  def readabilityBy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def idiv(x: Column, y: Column): Column =
      ((x - pmod(x, y)) / y).cast("long")
    def rdiv(a: Column, b: Column): Column = idiv(a * 2 + b, b * 2)
    val syl = df.select(col(idCol), explode(tokensWs(col(textCol))).as("__w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(greatest(size(regexp_extract_all(lower(col("__w")),
          lit("[aeiouy]+"), lit(0))), lit(1)).cast("long")).as("n_syllables"))
    val sent = df.select(col(idCol),
      greatest(size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))),
        lit(1)).cast("long").as("n_sents"))
    syl.join(sent, Seq(idCol))
      .withColumn("fk_grade_micro",
        rdiv(col("n_words") * 39L * 1000000L, col("n_sents") * 100L) +
        rdiv(col("n_syllables") * 118L * 1000000L, col("n_words") * 10L) -
        lit(15590000L))
      .select(col(idCol), col("n_words"), col("n_sents"), col("n_syllables"),
        col("fk_grade_micro"))
  }
}
