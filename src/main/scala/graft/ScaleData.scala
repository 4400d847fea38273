package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-smoke data generator: replicate the sf0.1 fact tables ×N with
  * key offsets into a larger synthetic scale under `target/` (default
  * ~sf1: 6M-row lineitem, 50k documents), so accidentally-super-linear
  * paths surface locally before any driver run. NOT an oracle input —
  * correctness stays pinned at the driver scales; this exists purely to
  * measure how per-query wall-clock grows with data.
  *
  * Replication must not manufacture degenerate semantics: document copies
  * get a per-copy vowel permutation (`translate`), so texts across copies
  * share almost no word 8-grams — near-dup candidate graphs and
  * decontamination matches grow ~linearly with the copy count instead of
  * every doc acquiring N−1 exact twins (which would benchmark a quadratic
  * blow-up the real corpus doesn't have). Lineitem copies shift only
  * `l_orderkey` (the per-file/per-observation axis), keeping dimension
  * keys valid. Dimension and untouched tables are byte-copied, preserving
  * their physical parquet types (events keeps TIMESTAMP(NANOS)).
  *
  * Usage: runMain graft.ScaleData [srcDir] [outDir] [copies]
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "target/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    require(copies >= 1 && copies <= 100,
      "1..100 copies (one distinct consonant-rotation x vowel-shift text " +
        "transform each; do NOT chain two ScaleData passes — composed " +
        "transforms collide and same-width id offsets alias, planting " +
        "exact twins a real corpus doesn't have)")
    val spark = GraftSession.create()
    new java.io.File(out).mkdirs()

    // far above any real key at these scales, far below 2^53
    val off = 100000000L

    def replicate(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$t.parquet")
      (0 until copies).map(i => f(base, i)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaledata] $t x$copies")
    }

    replicate("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * off))
    }

    // Per-copy text transform = consonant ROTATION (i mod 20 over the
    // 20-consonant alphabet) composed with a cyclic vowel SHIFT
    // (i div 20): copy 0 is the identity, all other copies rewrite every
    // consonant (and usually every vowel), so texts across copies share
    // almost no word 8-grams — near-dup candidate graphs grow ~linearly
    // with the copy count. Lexicographic vowel permutations were measured
    // DEGENERATE here: the first 24 of them fix both 'a' and 'e', so
    // copies stayed near-duplicates of each other and the winnow/minhash
    // benches blew up quadratically on planted structure a real corpus
    // doesn't have (q_dedup_winnow 9→68 s at sf1).
    val cons = "bcdfghjklmnpqrstvwxz"
    val vows = "aeiou"
    require(copies <= cons.length * vows.length,
      s"text transforms support <= ${cons.length * vows.length} copies")
    def textTransform(i: Int): (String, String) = {
      val r = i % cons.length
      val v = i / cons.length
      (cons + vows,
        cons.drop(r) + cons.take(r) + vows.drop(v) + vows.take(v))
    }
    replicate("documents") { (df, i) =>
      val (from, to) = textTransform(i)
      df.withColumn("doc_id", col("doc_id") + lit(i * off))
        .withColumn("text", translate(col("text"), from, to))
    }

    // Embedding copies get a per-copy circular dimension shift plus (past
    // 64 copies, when shifts would repeat) a global sign flip: norms and
    // within-copy geometry are preserved (recall structure stays honest),
    // but copies are NOT exact duplicates of each other — an exact-copy
    // corpus would hand every query vector N coincident near-neighbors
    // and make any recall number meaningless. 128 distinct transforms.
    require(copies <= 128, "embedding transforms support <=128 copies")
    replicate("embeddings") { (df, i) =>
      val d = 64
      val sign = if (i < d) lit(1.0f) else lit(-1.0f)
      val shifted = transform(sequence(lit(0), lit(d - 1)),
        j => element_at(col("embedding"), (j + lit(i % d)) % d + 1) * sign)
      df.withColumn("vec_id", col("vec_id") + lit(i * off))
        .withColumn("embedding", shifted.cast("array<float>"))
    }

    Seq("region", "nation", "customer", "supplier", "part",
        "orders", "events").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$t.parquet"),
        java.nio.file.Paths.get(s"$out/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      println(s"[scaledata] $t copied")
    }
    spark.stop()
  }
}
