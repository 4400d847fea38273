package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.{BpeImpl, BpeKernels}

/** BPE tokenizer: distributed training against hand-computed merges on the
  * classic low/lower/lowest corpus, greedy apply semantics (priority order,
  * left-to-right non-overlap, chained merges), and kernel/count agreement.
  */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  test("training reproduces the hand-computed merge sequence") {
    // words: low x3, lower x1, lowest x1
    // r1: pairs l-o:5, o-w:5 -> tie, 'l o' < 'o w' -> (l,o)
    // r2: lo-w:5 -> (lo,w);  r3: low-e:2 -> (low,e);  then all pairs = 1
    val corpus = Seq("low low low", "lower lowest").toDF("text")
    val merges = Bpe.train(corpus, numMerges = 10, minCount = 2)
    assert(merges == Seq("l" -> "o", "lo" -> "w", "low" -> "e"))

    // with minCount=1 the 4th merge is the lexicographically-first count-1
    // pair: 'lowe r' < 'lowe s' < 's t'
    val merges4 = Bpe.train(corpus, numMerges = 4, minCount = 1)
    assert(merges4 == Seq("l" -> "o", "lo" -> "w", "low" -> "e", "lowe" -> "r"))
  }

  test("incremental trainer certifies equivalent to the distributed one") {
    val corpus = Seq("low low low", "lower lowest").toDF("text")
    assert(Bpe.trainIncremental(corpus, numMerges = 10, minCount = 2)
      == Bpe.train(corpus, numMerges = 10, minCount = 2))
    assert(Bpe.trainIncremental(corpus, numMerges = 4, minCount = 1)
      == Bpe.train(corpus, numMerges = 4, minCount = 1))
    // A corpus with interacting merges, repeats inside words (the
    // non-overlapping sweep), and count ties broken lexicographically.
    val tricky = Seq("aaaa aaaa baab", "abab ccc ab", "mississippi mississippi")
      .toDF("text")
    for (mc <- Seq(1L, 2L); nm <- Seq(3, 8, 20))
      assert(Bpe.trainIncremental(tricky, numMerges = nm, minCount = mc)
        == Bpe.train(tricky, numMerges = nm, minCount = mc),
        s"diverged at numMerges=$nm minCount=$mc")
  }

  test("incremental trainer: O(1) Spark jobs regardless of merge count") {
    val corpus = Seq("low low low", "lower lowest", "a b ab abc").toDF("text")
      .localCheckpoint() // pin the input so both runs plan identically
    val j2 = jobsOf(Bpe.trainIncremental(corpus, numMerges = 2, minCount = 1))
    val j16 = jobsOf(Bpe.trainIncremental(corpus, numMerges = 16, minCount = 1))
    assert(j16 === j2, "job count must not grow with the merge count")
    assert(j16 <= 4, s"expected O(1) jobs total, got $j16")
  }

  test("incremental trainer: maxWords overflow fails loudly, minWordCount prunes") {
    val corpus = Seq("a b c d e f g h").toDF("text")
    val e = intercept[IllegalArgumentException](
      Bpe.trainIncremental(corpus, numMerges = 2, minCount = 1, maxWords = 3))
    assert(e.getMessage.contains("maxWords"))
    // rare-word pruning: with every word count-1 pruned away, nothing trains
    assert(Bpe.trainIncremental(corpus, numMerges = 2, minCount = 1,
      minWordCount = 2L) === Seq())
  }

  test("apply: chained merges, token sequence and count agree") {
    val merges = Seq("l" -> "o", "lo" -> "w", "low" -> "e")
    val out = Seq("lowest low", "", "unrelated").toDF("text")
      .select(Bpe.tokens(col("text"), merges).as("toks"),
        Bpe.tokenCount(col("text"), merges).as("n"))
      .as[(Seq[String], Int)].collect().toSeq
    assert(out(0) == (Seq("lowe", "s", "t", "low"), 4))
    assert(out(1) == (Seq(), 0))
    assert(out(2) == (Seq("u", "n", "r", "e", "l", "a", "t", "e", "d"), 9))
  }

  test("merge priority beats text order; equal-symbol merges are non-overlapping") {
    // 'abc' with ranks {bc:0, ab:1} -> [a, bc] (priority, not left-to-right)
    val r1 = BpeImpl.ranksOf(Seq("b" -> "c", "a" -> "b"))
    assert(BpeImpl.segment("abc", r1).toSeq == Seq("a", "bc"))
    // 'aaa' with merge (a,a): left-to-right non-overlap -> [aa, a]
    val r2 = BpeImpl.ranksOf(Seq("a" -> "a"))
    assert(BpeImpl.segment("aaa", r2).toSeq == Seq("aa", "a"))
    assert(BpeImpl.segment("aaaa", r2).toSeq == Seq("aa", "aa"))
  }

  test("non-interacting merges: count equals chars minus substring occurrences") {
    // the q_text_bpe oracle's closed form, pinned engine-side
    val merges = Seq("t" -> "h", "e" -> "r", "o" -> "n")
    def occ(s: String, p: String): Int = (s.length - s.replace(p, "").length) / 2
    val texts = Seq("the other thermal on and on", "ththth toner", "no pairs at xyz")
    val got = texts.toDF("text")
      .select(Bpe.tokenCount(col("text"), merges)).as[Int].collect().toSeq
    val want = texts.map { t =>
      t.count(!_.isWhitespace) - occ(t, "th") - occ(t, "er") - occ(t, "on")
    }
    assert(got == want, s"$got vs $want")
  }

  test("merge list round-trips through parquet in rank order") {
    val merges = Seq("l" -> "o", "lo" -> "w", "low" -> "e", "a" -> "b")
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toFile
    val path = s"$dir/merges.parquet"
    Bpe.saveMerges(spark, merges, path)
    assert(Bpe.loadMerges(spark, path) == merges, "rank order preserved")
  }

  test("word pairs emitter: multiplicity kept, short words empty") {
    val r = Seq("aba", "x", "").toDF("w")
      .select(BpeKernels.bpeWordPairs(col("w"), Nil)).as[Seq[String]].collect().toSeq
    assert(r == Seq(Seq("a b", "b a"), Seq(), Seq()))
  }
}
