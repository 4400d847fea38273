package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The native codegen'd kernels must be drop-in replacements for the HOF
  * forms: identical values (bit-exact — same IEEE op order) and identical
  * null semantics on every edge the HOFs define.
  */
class VectorKernelsSpec extends SparkTestBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private def vec(n: Int): Seq[Double] = Seq.fill(n)(rnd.nextDouble() * 2 - 1)

  /** HOF reference form of `ArrayOps.dot` — interpreted (`aggregate`/
    * `zip_with` are `CodegenFallback`); the executable spec the native
    * kernel is tested against.
    */
  private def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (s, v) => s + v)

  test("dot: native == HOF bit-exactly on random pairs") {
    val rows = Seq.fill(50)((vec(16), vec(16))) :+ ((Seq.empty[Double], Seq.empty[Double]))
    val df = rows.toDF("a", "b")
    val got = df.select(
      VectorKernels.dot($"a", $"b").as("native"),
      dotHof($"a", $"b").as("hof")).collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("dot: null semantics match HOF (null array, null element, length mismatch)") {
    val df = Seq(
      (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0), Some(4.0)))), // 11.0
      (None, Some(Seq(Some(1.0)))),                                       // null array
      (Some(Seq(Some(1.0), None)), Some(Seq(Some(1.0), Some(1.0)))),      // null element
      (Some(Seq(Some(1.0))), Some(Seq(Some(1.0), Some(2.0))))             // length mismatch
    ).toDF("a", "b")
    val rows = df.select(
      VectorKernels.dot($"a", $"b").as("native"),
      dotHof($"a", $"b").as("hof")).collect()
    rows.foreach { r => assert(r.isNullAt(0) == r.isNullAt(1), s"row $r") }
    assert(rows(0).getDouble(0) == 11.0)
    assert(rows(1).isNullAt(0) && rows(2).isNullAt(0) && rows(3).isNullAt(0))
  }

  test("dot: interpreted eval (no codegen) agrees with codegen path") {
    val df = Seq((vec(8), vec(8))).toDF("a", "b")
    val withCg = df.select(VectorKernels.dot($"a", $"b")).head().getDouble(0)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    val prevFactory = spark.conf.get("spark.sql.codegen.factoryMode")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = df.select(VectorKernels.dot($"a", $"b")).head().getDouble(0)
      assert(java.lang.Double.doubleToLongBits(withCg) == java.lang.Double.doubleToLongBits(interp))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("l2DistSq: native == per-element (x-y)^2 fold, and ivfCell argmin is stable") {
    val rows = Seq.fill(30)((vec(8), vec(8)))
    val df = rows.toDF("a", "b")
    val hof = aggregate(
      zip_with($"a", $"b", (x, y) => (x - y) * (x - y)), lit(0.0), (s, v) => s + v)
    df.select(VectorKernels.l2DistSq($"a", $"b").as("native"), hof.as("hof"))
      .collect().foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
      }
  }

  test("nearestCell: kernel == the struct-min tree it replaced, codegen == interpreted") {
    // 40 random 8-dim vectors, 7 random centroids (including one exact copy
    // of a data vector so a zero distance is exercised).
    val data = Seq.fill(40)(vec(8))
    val cents = (Seq.fill(6)(vec(8)) :+ data.head).map(_.toArray).toArray
    val df = data.map(Tuple1(_)).toDF("emb")
    // The replaced formulation, verbatim: array_min over k (l2DistSq, i) structs.
    val tree = {
      val cells = cents.zipWithIndex.map { case (c, i) =>
        struct(VectorKernels.l2DistSq($"emb",
          array(c.map(lit(_)).toIndexedSeq: _*)).as("d"), lit(i).as("i"))
      }
      array_min(array(cells.toIndexedSeq: _*)).getField("i")
    }
    val got = df.select(VectorKernels.nearestCell($"emb", cents).as("kernel"),
      tree.as("tree")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // Interpreted path agrees with codegen.
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    val prevFactory = spark.conf.get("spark.sql.codegen.factoryMode")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = df.select(VectorKernels.nearestCell($"emb", cents)).collect()
      got.zip(interp).foreach { case (a, b) => assert(a.getInt(0) == b.getInt(0)) }
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("float arrays are accepted (cast to double at the column wrapper)") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
    assert(df.select(VectorKernels.dot($"a", $"b")).head().getDouble(0) == 11.0)
  }

  test("brute-force top-k plans the cosine inside WholeStageCodegen (no fallback)") {
    // A local Seq would constant-fold to LocalTableScan; range() keeps a real
    // scan under the projection so the codegen span is visible.
    val df = spark.range(100).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)), j => ($"id" * 8 + j + 1).cast("double")).as("embedding"))
    val q = vec(8).toArray
    val plan = graft.llm.Similarity.bruteForceTopK(df, q, 5)
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes a WholeStageCodegen stage in the compact plan string;
    // the cosine Project must carry it and contain the native kernel.
    assert("""\*\(\d+\) Project \[[^\n]*vec_dot""".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("aggregate(")) // no interpreted HOF left in the kernel
  }
}
