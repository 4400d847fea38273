package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.llm.{Dedup, TextAnalysis, TextAnalysisSpec}

/** One-pass signature kernels vs the exploded aggregate formulations they
  * replaced: every kernel must reproduce the round-4 values bit-for-bit on
  * an edge-case corpus (empty text, leading tab — Spark trim strips spaces
  * only, so the split keeps an empty token —, multi-space runs, surrogate
  * pairs, short docs, duplicate grams).
  */
class SigKernelsSpec extends SparkTestBase {
  import spark.implicits._
  import SigKernelsSpec._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away house"),
    (3L, "completely different content about spark catalyst optimizer internals"),
    (4L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (5L, ""),                       // empty: 1 empty token, no shingles
    (6L, "one two"),                // fewer tokens than shingle size 3
    (7L, "  padded   with  runs "), // multi-space runs + space padding
    (8L, "\ttab lead keeps an empty token here right"), // trim strips ' ' only
    (9L, "unicode 😀 emoji 😀 tokens repeat here fine"),
    (10L, "a b a b a b a b c d")    // heavy duplicate grams
  ).toDF("doc_id", "text")

  test("murmur minhash kernel == exploded aggregate (and doc drop-out set)") {
    val k = Dedup.minhashSignatures(corpus).as[(Long, Seq[Int])].collect().toMap
    val e = minhashSignaturesExploded(corpus).as[(Long, Seq[Int])].collect().toMap
    assert(k == e)
    assert(!k.contains(5L) && !k.contains(6L)) // no shingles → dropped on both paths
  }

  test("poly minhash kernel == exploded aggregate") {
    val k = Dedup.minhashSignaturesPoly(corpus).as[(Long, Seq[Long])].collect().toMap
    val e = minhashSignaturesPolyExploded(corpus).as[(Long, Seq[Long])].collect().toMap
    assert(k == e)
  }

  test("xxhash simhash kernel == exploded vote aggregate") {
    val k = Dedup.simhashSignatures(corpus).as[(Long, Long)].collect().toMap
    val e = simhashSignaturesExploded(corpus).as[(Long, Long)].collect().toMap
    assert(k == e)
    assert(k.keySet == (1L to 10L).toSet) // every doc has >= 1 token
  }

  test("poly simhash kernel == exploded vote aggregate") {
    val k = Dedup.simhashSignaturesPoly(corpus).as[(Long, Long)].collect().toMap
    val e = simhashSignaturesPolyExploded(corpus).as[(Long, Long)].collect().toMap
    assert(k == e)
  }

  test("distinct word-ngram kernel == array_distinct HOF form (values AND order)") {
    val k = corpus.select($"doc_id", SigKernels.wordNgramsDistinct($"text", 3).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    val h = corpus.select($"doc_id", TextAnalysis.wordNgrams($"text", 3).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    assert(k == h)
  }

  test("ngram count kernels == exploded count pipeline") {
    val k = TextAnalysis.ngramCountsBy(corpus, "doc_id", "text", 2, 5)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val e = TextAnalysisSpec.ngramCountsByExploded(corpus, "doc_id", "text", 2, 5)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(k == e)
  }

  test("prepared ngrams kernel form matches the jaccard the window form produced") {
    // End-to-end check through the join: same pairs, same exact jaccard.
    val out = Dedup.ngramJaccardPairs(corpus, substring($"text", 1, 10), n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(c => ((c._1, c._2), c._3)).toMap
    assert(out((1L, 4L)) == 1.0)
    assert(out.contains((1L, 2L)) && out((1L, 2L)) > 0.5 && out((1L, 2L)) < 1.0)
  }

  test("bit-sliced simhash vote == reference per-bit loop across flush boundaries") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.StringType
    // Reference: the pre-r18 per-token, per-bit vote loop, verbatim.
    def reference(text: String): Long = {
      val w = SigImpl.trimSpaces(text).split("\\s+", -1)
      val votes = new Array[Int](64)
      var i = 0
      while (i < w.length) {
        val h = XxHash64Function.hash(UTF8String.fromString(w(i)), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        i += 1
      }
      var sim = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) sim |= (1L << b); b += 1 }
      sim
    }
    val rnd = new scala.util.Random(7)
    // Token counts straddling the 63-token flush boundary (62/63/64/126/127),
    // tiny docs, single token, and repeated tokens (vote ties both ways).
    val docs = Seq(1, 2, 62, 63, 64, 126, 127, 200).map { n =>
      (0 until n).map(_ => s"tok${rnd.nextInt(5)}").mkString(" ")
    } ++ Seq("", "single", "a a a a", (0 until 63).map(i => s"w$i").mkString(" "))
    docs.foreach { d =>
      assert(SigImpl.simhashXx(UTF8String.fromString(d)) == reference(d),
        s"mismatch on ${d.take(40)}... (${d.split(" ").length} tokens)")
    }
  }

  test("eq_slot_count kernel == zip_with/filter/size HOF form (long and int arrays)") {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 50).map { i =>
      val a = Array.fill(64)(rnd.nextInt(4).toLong)
      // mix of identical, disjoint and partially-agreeing arrays
      val b = if (i % 5 == 0) a.clone() else Array.fill(64)(rnd.nextInt(4).toLong)
      (i.toLong, a.toSeq, b.toSeq)
    }
    val df = rows.toDF("id", "a", "b")
    val kernel = df.select($"id", SigKernels.eqSlotCount($"a", $"b").as("c"))
      .as[(Long, Int)].collect().toMap
    val hof = df.select($"id",
        size(filter(zip_with($"a", $"b", (x, y) => x === y), e => e)).as("c"))
      .as[(Long, Int)].collect().toMap
    assert(kernel == hof)
    // int-typed arrays dispatch through the int branch
    val di = rows.map { case (i, a, b) => (i, a.map(_.toInt), b.map(_.toInt)) }
      .toDF("id", "a", "b")
    val kernelI = di.select($"id", SigKernels.eqSlotCount($"a", $"b").as("c"))
      .as[(Long, Int)].collect().toMap
    assert(kernelI == hof)
    // null ROW stays null-safe (null out, no crash)
    val withNullRow = Seq((1L, Option(Seq(1L, 2L)), Option(Seq(1L, 2L))),
      (2L, Option.empty[Seq[Long]], Option(Seq(1L, 2L))))
      .toDF("id", "a", "b")
      .select(SigKernels.eqSlotCount($"a", $"b").as("c"))
    assert(withNullRow.collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0))
      .toSeq.sorted == Seq(-1, 2))
    // nullable ELEMENTS keep the HOF's semantics: a null slot's equality
    // is null and does not count (and never crashes the kernel)
    val nullElem = spark.range(1).select(
      SigKernels.eqSlotCount(
        array(lit(1L), lit(null).cast("long"), lit(3L)),
        array(lit(1L), lit(2L), lit(3L))).as("k"),
      size(filter(zip_with(
        array(lit(1L), lit(null).cast("long"), lit(3L)),
        array(lit(1L), lit(2L), lit(3L)), (x, y) => x === y), e => e)).as("h"))
      .head()
    assert(nullElem.getInt(0) == 2 && nullElem.getInt(1) == 2)
  }

  test("kernels survive null text (null row, not a crash)") {
    val withNull = Seq((1L, Option("a b c d")), (2L, Option.empty[String])).toDF("doc_id", "text")
    assert(Dedup.minhashSignatures(withNull, shingleSize = 2).count() == 1)
    assert(Dedup.simhashSignatures(withNull).count() == 1)
    assert(withNull.select(SigKernels.wordNgramCount($"text", 2)).na.drop().count() == 1)
  }

  test("invalid kernel parameters fail at plan construction, not eval") {
    // n = 0 would index past the token array at eval time on some executor;
    // the constructors reject it up front.
    intercept[IllegalArgumentException](SigKernels.minhashMurmur($"text", shingleSize = 0))
    intercept[IllegalArgumentException](SigKernels.minhashMurmur($"text", numHashes = 0))
    intercept[IllegalArgumentException](SigKernels.minhashPoly($"text", shingleSize = -1))
    intercept[IllegalArgumentException](SigKernels.wordNgramsDistinct($"text", 0))
    intercept[IllegalArgumentException](SigKernels.wordNgramCount($"text", 0))
    intercept[IllegalArgumentException](SigKernels.charNgramCount($"text", 0))
  }
}

/** The explode+aggregate signature formulations the one-pass kernels
  * replaced, kept here as the cross-checks the kernels are pinned against.
  */
object SigKernelsSpec {
  import org.apache.spark.sql.DataFrame

  /** The round-3/4 explode+aggregate formulation of `Dedup.minhashSignatures`
    * (same values): explode shingles to rows, aggregate numHashes salted
    * murmur3 columns with map-side partial `min`s. Correct and distributed,
    * but the 64-column hash aggregate generates a huge codegen class (slow
    * to JIT on a cold JVM) and shuffles one row per doc per partition —
    * the cross-check `Dedup.minhashSignatures` is pinned against.
    */
  def minhashSignaturesExploded(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      shingleSize: Int = 3): DataFrame = {
    val shingled = df.select(col(idCol).as("id"),
      explode(TextAnalysis.wordNgrams(col(textCol), shingleSize)).as("sh"))
    val mins = (0 until numHashes).map(i => min(hash(col("sh"), lit(i))).as(s"h$i"))
    shingled.groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Explode+aggregate formulation of `Dedup.minhashSignaturesPoly` (same
    * values) — the specs' cross-check; see [[minhashSignaturesExploded]].
    */
  def minhashSignaturesPolyExploded(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      shingleSize: Int = 3): DataFrame = {
    val p = 1000000007L
    val shingled = df.select(col(idCol).as("id"),
        explode(TextAnalysis.wordNgrams(col(textCol), shingleSize)).as("sh"))
      .withColumn("fp", TextAnalysis.fingerprint(col("sh")))
    val mins = (0 until numHashes).map(i =>
      min((lit(2L * i + 1) * col("fp") + lit(31L * i + 7)) % p).as(s"h$i"))
    shingled.groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Explode+vote-aggregate formulation of `Dedup.simhashSignatures` (same
    * values) — the specs' cross-check; see [[minhashSignaturesExploded]].
    */
  def simhashSignaturesExploded(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(TextAnalysis.tokensWs(col(textCol))).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val votes = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"v$b"))
    toks.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 64).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))
  }

  /** Explode+vote-aggregate formulation of `Dedup.simhashSignaturesPoly` (same
    * values) — the specs' cross-check.
    */
  def simhashSignaturesPolyExploded(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val p = 1000000007L
    val toks = df.select(col(idCol).as("id"),
        explode(TextAnalysis.tokensWs(col(textCol))).as("t"))
      .withColumn("fp", TextAnalysis.fingerprint(col("t")))
    val votes = (0 until 64).map(b =>
      sum(when((lit(2L * b + 1) * col("fp") + lit(31L * b + 7)) % p % 2L === 1L, 1L)
        .otherwise(-1L)).as(s"v$b"))
    toks.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 64).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))
  }
}
