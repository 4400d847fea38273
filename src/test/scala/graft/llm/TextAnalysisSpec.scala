package graft.llm

import graft.SparkTestBase

/** Text analysis: token counts, n-grams (incl. the short-input guard),
  * fingerprint, language ID, quality, Jaccard.
  */
class TextAnalysisSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def one[T: org.apache.spark.sql.Encoder](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("text").select(c).as[T].head()

  /** The pure-built-ins HOF form of `TextAnalysis.fingerprint` (same
    * values; the cross-check the kernel is pinned against). Folds over
    * `split(text, "")` so each step is O(1); the earlier
    * `substring(text, i, 1)` form re-seeked from the string start per
    * character, O(len²) per row.
    */
  private def fingerprintHof(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      split(text, ""),
      lit(0L),
      (acc, c) => pmod(acc * lit(131L) + ascii(c).cast("long"), lit(1000000007L)))

  test("token and subword counts") {
    assert(one[Int](TextAnalysis.tokenCount($"text"), "a  b\tc") == 3)
    assert(one[Int](TextAnalysis.subwordCount($"text"), "don't stop-2x") == 7)
    // don / ' / t / stop / - / 2 / x
  }

  test("word n-grams are distinct and ordered windows") {
    assert(one[Seq[String]](TextAnalysis.wordNgrams($"text", 2), "a b a b c")
      == Seq("a b", "b a", "b c"))
  }

  test("n-gram short-input guard: fewer tokens/chars than n gives empty, not garbage") {
    assert(one[Seq[String]](TextAnalysis.wordNgrams($"text", 3), "only two").isEmpty)
    assert(one[Seq[String]](TextAnalysis.charNgrams($"text", 5), "abc").isEmpty)
    assert(one[Seq[String]](TextAnalysis.charNgrams($"text", 2), "abc") == Seq("ab", "bc"))
  }

  test("exploded n-gram construction agrees with the array-column forms") {
    val df = Seq(
      (1L, "a b a b c"),
      (2L, "one"),              // fewer tokens than n → empty set
      (3L, "x y z x y z x y"),
      (4L, "solo pair")
    ).toDF("doc_id", "text")
    val arrW = df.select($"doc_id", TextAnalysis.wordNgrams($"text", 2).as("g"))
      .as[(Long, Seq[String])].collect().map { case (id, g) => id -> g.toSet }.toMap
    val expW = TextAnalysisSpec.explodedWordNgrams(df, "doc_id", "text", 2)
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((arrW.filter(_._2.nonEmpty): Map[Long, Set[String]]) == expW)

    val arrC = df.select($"doc_id", TextAnalysis.charNgrams($"text", 3).as("g"))
      .as[(Long, Seq[String])].collect().map { case (id, g) => id -> g.toSet }.toMap
    val expC = TextAnalysisSpec.explodedCharNgrams(df, "doc_id", "text", 3)
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((arrC.filter(_._2.nonEmpty): Map[Long, Set[String]]) == expC)

    val counts = TextAnalysis.ngramCountsBy(df, "doc_id", "text", 2, 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(counts(1L) == ((3L, arrC(1L).size.toLong)))
    assert(counts(2L) == ((0L, 1L))) // "one": no bigrams, one 3-char gram
  }

  test("fingerprint matches a hand-computed rolling hash") {
    // "ab": ((0*131+97) % M)*131 + 98 = 12805 (M = 1e9+7)
    assert(one[Long](TextAnalysis.fingerprint($"text"), "ab") == 12805L)
    assert(one[Long](TextAnalysis.fingerprint($"text"), "") == 0L)
  }

  test("codegen'd fingerprint kernel agrees with the HOF form") {
    val samples = Seq(
      "ab", "", "the quick brown fox", "   spaces  and\ttabs\n",
      "mixed 语言 text with ünïcode", "a" * 500)
    samples.foreach { s =>
      val kernel = one[Long](TextAnalysis.fingerprint($"text"), s)
      val hof = one[Long](fingerprintHof($"text"), s)
      assert(kernel == hof, s"kernel vs HOF mismatch on ${s.take(30)}")
    }
  }

  test("language ID votes on stopwords; unknown text -> und") {
    assert(one[String](TextAnalysis.langId($"text"), "the cat is on the mat") == "en")
    assert(one[String](TextAnalysis.langId($"text"), "der hund ist nicht da und") == "de")
    assert(one[String](TextAnalysis.langId($"text"), "le chat est sur la table et les") == "fr")
    assert(one[String](TextAnalysis.langId($"text"), "zzz qqq xxx") == "und")
  }

  test("langIdBy (codegen'd aggregation) agrees with the column form") {
    val df = Seq(
      (1L, "the cat is on the mat"),
      (2L, "der hund ist nicht da und"),
      (3L, "le chat est sur la table et les"),
      (4L, "el perro es un animal y los gatos"),
      (5L, "zzz qqq xxx"),
      (6L, "la la la") // tie-breaking: 'la' is both es and fr → fr (lex max)
    ).toDF("doc_id", "text")
    val byCol = df.select($"doc_id", TextAnalysis.langId($"text").as("lang_id"))
      .as[(Long, String)].collect().toMap
    val byAgg = TextAnalysis.langIdBy(df, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(byAgg == byCol)
    assert(byAgg(6L) == "fr")
  }

  test("quality score is in [0,1] and penalizes punctuation soup") {
    val clean = one[Double](TextAnalysis.qualityScore($"text"),
      "A perfectly reasonable sentence with enough characters to pass the length gate.")
    val soup = one[Double](TextAnalysis.qualityScore($"text"), "!!! ??? @@@ ###")
    assert(clean > 0.8 && clean <= 1.0)
    assert(soup < 0.2 && soup >= 0.0)
  }

  test("jaccard of distinct-element arrays") {
    val j = Seq((Seq("a", "b", "c"), Seq("b", "c", "d")))
      .toDF("a", "b").select(TextAnalysis.jaccard($"a", $"b")).as[Double].head()
    assert(j == 0.5)
  }

  test("repetition metrics: dup-token and top-bigram fractions, degenerate inputs") {
    val df = Seq(
      (1L, "spam spam spam spam"),            // 4 tokens, 1 distinct, top bigram "spam spam" ×3
      (2L, "all tokens here are different"),  // no repetition
      (3L, "one"),                            // single token → no bigrams
      (4L, "ab cd ab cd ab")                  // top bigram "ab cd" ×2 of 4 bigrams
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionBy(df, "doc_id", "text")
      .select($"doc_id", $"n_tokens", $"n_distinct", $"dup_token_frac",
        $"top_bigram_n", $"top_bigram_frac")
      .as[(Long, Long, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(m(1L) == ((1L, 4L, 1L, 0.75, 3L, 1.5)))
    assert(m(2L) == ((2L, 5L, 5L, 0.0, 1L, 0.4)))
    assert(m(3L) == ((3L, 1L, 1L, 0.0, 0L, 0.0)))
    assert(m(4L) == ((4L, 5L, 2L, 0.6, 2L, 0.8)))
  }

  test("langMixBy: embedded foreign paragraphs flag as mixed, blanks don't vote") {
    val df = Seq(
      (1L, "the cat is on the mat\nder hund ist nicht da\nthe dog is in a house"),
      (2L, "the cat is on the mat\n\nthe dog is in a house"),
      (3L, "xyzzy plugh"),  // no stopwords anywhere → und, unmixed
      (4L, "el perro es un animal\nla casa es de los amigos"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.langMixBy(df, "doc_id", "text")
      .as[(Long, Long, String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, "en", 2L, 1L, true)))
    assert(got(2L) == ((2L, 2L, "en", 2L, 0L, false)))
    assert(got(3L) == ((3L, 1L, "und", 1L, 0L, false)))
    assert(got(4L) == ((4L, 2L, "es", 2L, 0L, false)))
  }

  test("phrasesBy: word2phrase score discounts rare flukes, exact micro values") {
    // 6× "new york" + two alternating a/b docs. N = 26 tokens;
    // n_new = n_york = 6, n_a = n_b = 7; n_ab: (new,york)=6, (a,b)=6,
    // (b,a)=6. score(new york) = (6−5)·26·10⁶ div 36 = 722222;
    // score(a b) = (6−5)·26·10⁶ div 49 = 530612 — under the 600000
    // threshold, so only the planted name survives.
    val df = ((1L to 6L).map(i => (i, "new york")) ++
      Seq((7L, "a b a b a b a"), (8L, "b a b a b a b"))).toDF("doc_id", "text")
    val got = TextAnalysis.phrasesBy(df, "doc_id", "text",
        delta = 5L, thrMicro = 600000L, minCount = 6L)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("new", "york", 6L, 6L, 6L, 722222L)))
  }

  test("phrasesBy: minCount must exceed delta") {
    val df = Seq((1L, "x y")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.phrasesBy(df, "doc_id", "text", delta = 5L,
        thrMicro = 0L, minCount = 5L)
    }
  }

  test("unigram LM score: repeated-vocabulary docs outscore rare-vocabulary docs") {
    // 'the' appears 8x, unique tokens once each → ln(8/N) >> ln(1/N)
    val df = Seq(
      (1L, "the the the the"),
      (2L, "qzx wvu ponm lkj"),
      (3L, "the the qzx the the")
    ).toDF("doc_id", "text")
    val s = TextAnalysis.unigramLmScoreBy(df, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(s.values.forall(_._3 < 0), "log-probs are negative")
    // per-token average: common-token doc beats rare-token doc
    def avg(r: (Long, Long, Long)) = r._3.toDouble / r._2
    assert(avg(s(1L)) > avg(s(2L)))
    assert(s(1L)._2 == 4L && s(2L)._2 == 4L && s(3L)._2 == 5L)
    // exact contribution check: doc 1 is 4 tokens of 'the' (corpus count 8,
    // total 13) → 4 · round(ln(8/13)·1e6) micro-nats
    val expected1 = 4L * math.round(math.log(8.0 / 13.0) * 1e6)
    assert(s(1L)._3 == expected1, s"got ${s(1L)._3}, want $expected1")
  }

  test("stupid-backoff bigram LM matches an exact reference; shuffled text backs off") {
    // LM trained on two fluent docs; scored docs reuse the SAME tokens —
    // identical unigram profile — in natural vs shuffled order, plus one
    // doc with a token the reference has never seen.
    val train = Seq(
      (1L, "the quick fox jumps"),
      (2L, "the quick fox runs")
    ).toDF("doc_id", "text")
    val score = Seq(
      (10L, "the quick fox"), // natural: both bigrams seen in train
      (11L, "quick the fox"), // shuffled: neither bigram seen → backoff
      (12L, "the zorp fox")   // zorp: unseen token → clamped backoff
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramBackoffScoreAgainst(train, score, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap

    // Exact reference implementation (same formula, same rounding).
    val trainDocs = Seq(Seq("the", "quick", "fox", "jumps"), Seq("the", "quick", "fox", "runs"))
    val all = trainDocs.flatten
    val cu = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cb = trainDocs.flatMap(t => t.zip(t.tail))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = all.size.toDouble
    def ref(toks: Seq[String]): (Long, Long) = {
      val scored = toks.zipWithIndex.map { case (w, i) =>
        val prev = if (i == 0) None else Some(toks(i - 1))
        prev.flatMap(p => cb.get((p, w)).map(c =>
            (math.round(math.log(c.toDouble / cu(p).toDouble) * 1e6), 1L)))
          .getOrElse((math.round(math.log(0.4 * (cu.getOrElse(w, 1L).toDouble / total)) * 1e6), 0L))
      }
      (scored.map(_._2).sum, scored.map(_._1).sum)
    }
    val scoreDocs = Map(10L -> Seq("the", "quick", "fox"),
      11L -> Seq("quick", "the", "fox"), 12L -> Seq("the", "zorp", "fox"))
    for ((id, toks) <- scoreDocs) {
      val (hits, lpm) = ref(toks)
      assert(out(id)._2 == toks.size.toLong)
      assert(out(id)._3 == hits, s"doc $id hits: got ${out(id)._3}, want $hits")
      assert(out(id)._4 == lpm, s"doc $id lpm: got ${out(id)._4}, want $lpm")
    }
    // the fluency separation a unigram LM cannot make: same tokens, the
    // natural order rides the bigram branch, the shuffle backs off
    assert(out(10L)._3 == 2L && out(11L)._3 == 0L)
    assert(out(10L)._4 > out(11L)._4)
    // unseen-token doc scores strictly below both
    assert(out(12L)._4 < out(11L)._4)
  }

  test("segment repetition: duplicate lines and their character mass") {
    val df = Seq(
      // 4 lines: 'aa' twice (2 chars each), 'bbb', 'c' → dup_line_frac 1/4,
      // dup chars = 2 of total 2+2+3+1 = 8
      (1L, "aa\nbbb\naa\nc"),
      (2L, "x\ny\nz"), // no dups
      (3L, "pp\npp\npp") // all one line: frac 2/3, chars 4/6
    ).toDF("doc_id", "text")
    val got = TextAnalysis.segmentRepetitionBy(df, "doc_id", "text")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 4L, 3L, 1.0 / 4, 2.0 / 8)))
    assert(got(2L) === ((2L, 3L, 3L, 0.0, 0.0)))
    assert(got(3L) === ((3L, 3L, 1L, 2.0 / 3, 4.0 / 6)))
    // paragraph granularity: same machinery on the "\n\n" separator
    val paras = Seq((10L, "para one\n\npara two\n\npara one"))
      .toDF("doc_id", "text")
    val p = TextAnalysis.segmentRepetitionBy(paras, "doc_id", "text",
        sep = "\n\n", prefix = "para")
      .as[(Long, Long, Long, Double, Double)].collect().head
    assert(p === ((10L, 3L, 2L, 1.0 / 3, 8.0 / 24)))
  }

  test("frozen LM pruning: retained entries exact, shifts bounded, invariant held") {
    import graft.streaming.StreamingLmGate
    def rhu(v: Double): Long = java.math.BigDecimal.valueOf(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    // counts by construction: a=4, b=2, c=1; bigrams (a,a)=3, (b,b)=1; N=7
    val train = Seq((1L, "a a a a"), (2L, "b b"), (3L, "c")).toDF("doc_id", "text")
    val full = TextAnalysis.freezeLm(train)
    val pruned = TextAnalysis.freezeLm(train,
      minUnigramCount = 3, minBigramCount = 2)
    // what survives: exactly the frequent entries, counts untouched, N unpruned
    assert(pruned.unigrams === Map("a" -> 4L))
    assert(pruned.bigrams === Map("a a" -> 3L))
    assert(pruned.total === full.total && full.total === 7.0)
    // kept-bigram-implies-kept-context invariant
    assert(pruned.bigrams.keySet.forall(k => pruned.unigrams.contains(k.split(" ")(0))))

    def score(lm: graft.functions.FrozenLm, text: String): Long =
      StreamingLmGate.scoreWithFrozenLm(Seq((0L, text)).toDF("doc_id", "text"), lm)
        .select("logp_micro").as[Long].head()
    // a doc touching only retained entries scores BIT-identically
    assert(score(pruned, "a a a") === score(full, "a a a"))
    // pruned-unigram backoff position: clamp to 1 shifts by exactly
    // round(ln(0.4·2/7)e6) − round(ln(0.4·1/7)e6) ≈ ln(c(w))·1e6, within
    // the ln(minUnigramCount) bound
    val shift = score(full, "b") - score(pruned, "b")
    assert(shift === rhu(math.log(0.4 * 2.0 / 7.0) * 1e6) - rhu(math.log(0.4 * 1.0 / 7.0) * 1e6))
    assert(shift <= math.ceil(math.log(3) * 1e6).toLong)
    // pruned-bigram position falls to the word's backoff branch
    assert(score(pruned, "b b") ===
      2 * rhu(math.log(0.4 * 1.0 / 7.0) * 1e6)) // both positions clamp
    assert(score(full, "b b") ===
      rhu(math.log(0.4 * 2.0 / 7.0) * 1e6) + rhu(math.log(1.0 / 2.0) * 1e6))
    // top-K caps: deterministic, invariant preserved
    val capped = TextAnalysis.freezeLm(train, maxUnigrams = 1, maxBigrams = 1)
    assert(capped.unigrams === Map("a" -> 4L))
    assert(capped.bigrams === Map("a a" -> 3L))
  }

  test("perplexity buckets: fluent docs head, shuffled middle, gibberish tail") {
    val train = Seq(
      (1L, "the quick fox jumps over the lazy dog"),
      (2L, "the quick fox runs past the lazy dog")
    ).toDF("doc_id", "text")
    val score = Seq(
      (10L, "the quick fox jumps"),   // all bigrams seen → lowest norm
      (11L, "fox quick the jumps"),   // same tokens shuffled → backoff norms
      (12L, "zzq wvx plm qqj")        // unseen everything → worst norm
    ).toDF("doc_id", "text")
    val out = TextAnalysis.perplexityBuckets(train, score, "doc_id", "text")
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert(out(10L) == "head", s"got $out")
    assert(out(12L) == "tail", s"got $out")
    // the shuffled doc sits strictly between: not head (above the mean
    // pulled down by doc 10) — middle or tail depending on the gap; pin
    // the exact thresholds instead of guessing:
    val nn = TextAnalysis.bigramBackoffScoreAgainst(train, score, "doc_id", "text")
      .selectExpr("doc_id", "(-logp_micro) DIV n_tokens AS nn")
      .as[(Long, Long)].collect().toMap
    val m1 = nn.values.sum / nn.size
    val above = nn.values.filter(_ > m1)
    val m2 = above.sum / above.size
    def expected(v: Long) = if (v <= m1) "head" else if (v <= m2) "middle" else "tail"
    for ((id, v) <- nn) assert(out(id) == expected(v), s"doc $id: $v m1=$m1 m2=$m2")
  }

  test("perplexity buckets: an all-identical corpus is all head") {
    val train = Seq((1L, "a b c")).toDF("doc_id", "text")
    val score = Seq((10L, "a b c"), (11L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.perplexityBuckets(train, score, "doc_id", "text")
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert(out.values.forall(_ == "head"), s"got $out")
  }

  test("char entropy: uniform text maxes, single-char text scores zero") {
    val df = Seq(
      (1L, "aaaaaaaa"),   // one symbol → entropy 0
      (2L, "abcdefgh"),   // 8 distinct → ln(8) nats
      (3L, "aabb")        // 2 symbols, uniform → ln(2)
    ).toDF("doc_id", "text")
    val e = TextAnalysis.charEntropyBy(df, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(e(1L) == ((1L, 8L, 0L)))
    // 8 chars each p=1/8: 8 · round(-(1/8)·ln(1/8)·1e6)
    assert(e(2L)._3 == 8L * math.round(-(1.0 / 8) * math.log(1.0 / 8) * 1e6))
    assert(e(3L)._3 == 2L * math.round(-(2.0 / 4) * math.log(2.0 / 4) * 1e6))
  }

  test("vocab coverage: top-V membership is count-then-token deterministic") {
    val df = Seq(
      (1L, "the the the cat"),   // 'the'×3, 'cat'×1
      (2L, "dog cat the zebra")  // singles + 'the'
    ).toDF("doc_id", "text")
    // top-2 by (count desc, token asc): 'the'(4), then 'cat'(2)
    val v = TextAnalysis.vocabCoverageBy(df, "doc_id", "text", topV = 2)
      .select($"doc_id", $"n_tokens", $"in_vocab", $"coverage")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(v(1L) == ((1L, 4L, 4L, 1.0)))       // the,the,the,cat all in top-2
    assert(v(2L) == ((2L, 4L, 2L, 0.5)))       // cat + the
    // tie at the V boundary breaks by token text: with V=3, 'dog' (count 1)
    // beats 'zebra' (count 1) alphabetically
    val v3 = TextAnalysis.vocabCoverageBy(df, "doc_id", "text", topV = 3)
      .select($"doc_id", $"in_vocab").as[(Long, Long)].collect().toMap
    assert(v3(2L) == 3L) // dog,cat,the in vocab; zebra out
  }

  test("chunkByTokens: windows, overlap, short/empty docs, every token covered") {
    val text10 = (1 to 10).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, text10), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkByTokens(df, "doc_id", "text",
        chunkTokens = 4, overlapTokens = 1)
      .as[(Long, Long, Long, String)].collect().sortBy(c => (c._1, c._2)).toSeq
    // doc 1: 10 tokens, stride 3 → ceil(9/3) = 3 chunks: [1..4],[4..7],[7..10]
    assert(got.filter(_._1 == 1L) == Seq(
      (1L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 4L, "t4 t5 t6 t7"),
      (1L, 2L, 4L, "t7 t8 t9 t10")))
    // consecutive chunks share exactly `overlap` tokens; all 10 covered
    assert(got.filter(_._1 == 1L).flatMap(_._4.split(" ")).distinct.length == 10)
    // short doc: one sub-size chunk; empty doc: one chunk of the "" token
    assert(got.filter(_._1 == 2L) == Seq((2L, 0L, 2L, "a b")))
    assert(got.filter(_._1 == 3L) == Seq((3L, 0L, 1L, "")))
    // no-overlap windowing partitions the tokens exactly
    val flat = TextAnalysis.chunkByTokens(df.filter($"doc_id" === 1L), "doc_id", "text",
        chunkTokens = 3, overlapTokens = 0)
      .as[(Long, Long, Long, String)].collect().sortBy(_._2).toSeq
    assert(flat.map(_._4).mkString(" ") == text10 && flat.length == 4)
    // a chunk boundary exactly at n: 10 tokens, chunk 5, overlap 0 → 2 chunks
    val exact = TextAnalysis.chunkByTokens(df.filter($"doc_id" === 1L), "doc_id", "text",
        chunkTokens = 5, overlapTokens = 0)
      .as[(Long, Long, Long, String)].collect()
    assert(exact.length == 2 && exact.forall(_._3 == 5L))
  }

  test("sentence segmentation: terminator runs, trims, empties, no-punct text") {
    def run(t: String): Seq[String] =
      Seq(t).toDF("t").select(TextAnalysis.sentences($"t").as("s"))
        .as[Seq[String]].collect().head
    assert(run("One two. Three!  Four? Done... yes") ==
      Seq("One two.", "Three!", "Four?", "Done...", "yes"))
    assert(run("no terminators at all") == Seq("no terminators at all"))
    assert(run("!!!") == Seq()) // pure punctuation: no sentence content
    assert(run("a. . b.") == Seq("a.", ".", "b.")) // lone-dot segment survives trim
  }

  test("readability: FK grade integer-exact on hand-counted text") {
    val s = spark; import s.implicits._
    // "The cat sat. It ran away fast!" → 7 words, 2 sentence runs,
    // syllables (vowel-group runs, min 1): the=1 cat=1 sat.=1 it=1
    // ran=1 away=2 fast!=1 → 8.
    val df = Seq((1L, "The cat sat. It ran away fast!"),
      (2L, "xyz qqq")).toDF("id", "text") // no vowels → min-1 per word; no terminator → 1 sentence
    val got = TextAnalysis.readabilityBy(df, "id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    def rdiv(a: Long, b: Long) = (2 * a + b) / (2 * b)
    val g1 = rdiv(7L * 39 * 1000000, 2L * 100) + rdiv(8L * 118 * 1000000, 7L * 10) - 15590000
    val g2 = rdiv(2L * 39 * 1000000, 1L * 100) + rdiv(2L * 118 * 1000000, 2L * 10) - 15590000
    assert(got == Seq((1L, 7L, 2L, 8L, g1), (2L, 2L, 1L, 2L, g2)))
    // sanity: trivially simple text sits at the bottom of the scale — FK
    // legitimately goes negative there (here ≈ −0.74)
    assert(g1 < 2000000L && g2 < g1) // two 1-syllable-ish words rate even lower
  }

  test("markdownToText: fences drop, anchors/alt/body survive, markers strip") {
    val md = Seq(
      (1L, "# Head\nplain **bold** and *star* text"),
      (2L, "```\nsecret code\n```\nafter [docs](http://x.com) ![alt text](i.png)"),
      (3L, "> quote line\n---\ntail `inline()` and _em_"),
      (4L, "no markdown at all"),
      (5L, "### deep head\n normal\n****\nrule above was stars")
    ).toDF("doc_id", "text")
    val got = md.select($"doc_id",
        TextAnalysis.markdownToText($"text").as("p"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "Head plain bold and star text")
    assert(got(2L) == "after docs alt text", s"got: ${got(2L)}")
    assert(!got(2L).contains("secret"), "fenced code must drop whole")
    assert(got(3L) == "quote line tail inline() and em")
    assert(got(4L) == "no markdown at all")
    assert(got(5L) == "deep head normal rule above was stars")
  }
}

/** Test-only exploded n-gram forms of `TextAnalysis`. */
object TextAnalysisSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._
  import TextAnalysis.tokensWs

  // The array-column n-gram forms build each doc's n-gram set inside nested
  // HOF lambdas, which Catalyst evaluates INTERPRETED. The round-4 exploded
  // construction produced the same distinct n-grams as (id, gram) ROWS:
  // posexplode the tokens, window `lead` per doc for the n-1 following
  // tokens, concat, distinct — every operator whole-stage-codegen'd,
  // shuffling one row per token. The kernels replaced it; it stays here as
  // a cross-check.

  /** Distinct word n-grams per doc as rows (id, gram). Docs with fewer
    * than n tokens produce no rows (== empty set in the array form).
    */
  def explodedWordNgrams(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val toks = df.select(col(idCol), posexplode(tokensWs(col(textCol))).as(Seq("__pos", "__tok")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val withLeads = (1 until n).foldLeft(toks) { (d, i) =>
      d.withColumn(s"__t$i", lead(col("__tok"), i).over(w))
    }
    val parts = col("__tok") +: (1 until n).map(i => col(s"__t$i"))
    val complete = if (n == 1) withLeads else withLeads.filter(col(s"__t${n - 1}").isNotNull)
    complete
      .select(col(idCol), concat_ws(" ", parts: _*).as("gram"))
      .distinct()
  }

  /** Distinct character n-grams per doc as rows (id, gram) — same
    * construction over the character sequence.
    */
  def explodedCharNgrams(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val toks = df.select(col(idCol), posexplode(split(col(textCol), "")).as(Seq("__pos", "__c")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val withLeads = (1 until n).foldLeft(toks) { (d, i) =>
      d.withColumn(s"__c$i", lead(col("__c"), i).over(w))
    }
    val parts = col("__c") +: (1 until n).map(i => col(s"__c$i"))
    val complete = if (n == 1) withLeads else withLeads.filter(col(s"__c${n - 1}").isNotNull)
    complete.select(col(idCol), concat(parts: _*).as("gram")).distinct()
  }

  /** The round-4 exploded formulation of `TextAnalysis.ngramCountsBy`
    * (same values) — the cross-check SigKernelsSpec pins the kernel against.
    */
  def ngramCountsByExploded(
      df: DataFrame, idCol: String, textCol: String,
      wordN: Int, charN: Int): DataFrame = {
    val ids = df.select(col(idCol))
    val wc = explodedWordNgrams(df, idCol, textCol, wordN)
      .groupBy(col(idCol)).agg(count(lit(1)).as("__wc"))
    val cc = explodedCharNgrams(df, idCol, textCol, charN)
      .groupBy(col(idCol)).agg(count(lit(1)).as("__cc"))
    ids.join(wc, Seq(idCol), "left").join(cc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__wc"), lit(0L)).as(s"n_${wordN}grams"),
        coalesce(col("__cc"), lit(0L)).as(s"n_char$charN"))
  }
}
