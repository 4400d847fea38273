package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** Native codegen'd vector kernels for the similarity-search surface; the
  * radio DATA kernels follow the same contract in [[ArrayKernelsImpl]].
  *
  * Spark's higher-order functions (`aggregate`, `zip_with`, `transform`) are
  * `CodegenFallback`: each row pays interpreted lambda dispatch per element.
  * For the O(n·d) kernels under brute-force cosine, LSH bucketing (d dots per
  * row per plane) and IVF cell assignment that interpreter tax dominates, so
  * these `BinaryExpression`s emit a tight primitive `double` loop via
  * `doGenCode` instead.
  *
  * The kernel contract: inputs are cast to `array<double>` by the column
  * wrapper, interpreted eval and generated code run the same loop, and the
  * semantics mirror the HOF forms bit-exactly (same per-element IEEE op
  * order, index-ascending accumulation) so swapping them in cannot move any
  * oracle-checked value. The HOF forms exist only as references in
  * `VectorKernelsSpec`, which pins the kernels to them:
  *   - null array → null; any null ELEMENT → null (zip_with multiplies null
  *     through, aggregate folds `s + null` to null);
  *   - length mismatch → null (zip_with pads the shorter side with nulls);
  *   - empty arrays → 0.0 (fold over nothing returns the 0.0 seed).
  */
abstract class VectorFoldExpression extends BinaryExpression {
  // Inputs are always array<double>: the [[VectorKernels]] wrappers insert
  // the cast, so no ExpectsInputTypes coercion is needed (that trait's
  // AbstractDataType is private[sql] anyway).
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  // Expression.foldable defaults to false, so dot(q, q) over a LITERAL
  // query array was re-accumulated for every row of every scan it
  // appeared in (each cosine-to-query evaluates the query's own norm
  // per row). Literal-children folds are pure; letting ConstantFolding
  // collapse them costs one interpreted eval at plan time — nullSafeEval
  // accumulates in the same ascending-index IEEE order as the codegen
  // loop, so the folded double is bit-identical to the per-row one.
  override def foldable: Boolean = left.foldable && right.foldable

  /** Per-element contribution, e.g. `x * y`. Java source over two doubles. */
  protected def javaCombine(x: String, y: String): String
  /** Scala mirror of [[javaCombine]] for interpreted eval. */
  protected def scalaCombine(x: Double, y: Double): Double

  override def nullSafeEval(leftV: Any, rightV: Any): Any = {
    val a = leftV.asInstanceOf[ArrayData]
    val b = rightV.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      sum += scalaCombine(a.getDouble(i), b.getDouble(i))
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += ${javaCombine(s"$a.getDouble($i)", s"$b.getDouble($i)")};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $sum;
         |}
       """.stripMargin
    })
}

/** Σ aᵢ·bᵢ — the dot product (codegen'd). */
case class DotProduct(left: Expression, right: Expression) extends VectorFoldExpression {
  override def prettyName: String = "vec_dot"
  override protected def javaCombine(x: String, y: String): String = s"$x * $y"
  override protected def scalaCombine(x: Double, y: Double): Double = x * y
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Σ (aᵢ−bᵢ)² — squared Euclidean distance (codegen'd); the IVF
  * quantizer-assignment kernel.
  */
case class L2DistSq(left: Expression, right: Expression) extends VectorFoldExpression {
  override def prettyName: String = "vec_l2distsq"
  override protected def javaCombine(x: String, y: String): String = s"($x - $y) * ($x - $y)"
  override protected def scalaCombine(x: Double, y: Double): Double = (x - y) * (x - y)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): L2DistSq =
    copy(left = newLeft, right = newRight)
}

/** Static argmin shared by interpreted eval and codegen (the [[PcaImpl]]
  * discipline). Returns -1 for the null cases (null element / dimension
  * mismatch); the expression maps -1 to SQL NULL.
  */
object NearestCellImpl {
  def nearest(a: ArrayData, cents: Array[Array[Double]]): Int = {
    val n = a.numElements()
    var best = Double.PositiveInfinity
    var bi = 0
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      if (cent.length != n) return -1
      var d = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) return -1
        val f = a.getDouble(i) - cent(i)
        d += f * f
        i += 1
      }
      if (d < best) { best = d; bi = c }
      c += 1
    }
    bi
  }
}

/** argminᵢ ‖emb − Cᵢ‖² with the centroid matrix riding the expression as ONE
  * reference object — the IVF/SemDeDup cell assignment. The previous form,
  * `array_min(array(struct(l2DistSq(emb, C₀), 0), …))`, builds a Catalyst
  * tree of k·dim literal nodes: at the corpus-derived k the SemDeDup
  * discipline requires (k ≈ n/128), analysis + optimizer passes over that
  * tree dominated the assignment job (measured 12.6 s of a 21 s query at
  * k = 157, dim = 64). Same IEEE distance-accumulation order and same
  * lowest-index tie-break as the struct-min tree, so stored cell columns
  * and every oracle-checked result are unchanged. Divergence only on inputs
  * the old tree never saw in practice: null element / dimension mismatch →
  * NULL here (the struct-min form folded nulls into its ordering).
  */
case class NearestCell(child: Expression, centroids: Seq[Seq[Double]])
    extends UnaryExpression {
  @transient private lazy val matrix: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_nearest_cell"

  override def nullSafeEval(v: Any): Any = {
    val r = NearestCellImpl.nearest(v.asInstanceOf[ArrayData], matrix)
    if (r < 0) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("cell")
      s"""
         |final int $r = graft.functions.NearestCellImpl.nearest($c, $ref);
         |if ($r < 0) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
}

object VectorKernels {
  /** A kernel over one numeric array column, cast to `array<double>`. */
  private[functions] def unary(f: Expression => Expression)(a: Column): Column =
    GraftColumnBridge.column(f(GraftColumnBridge.expression(a.cast("array<double>"))))

  /** A kernel over two numeric array columns, each cast to `array<double>`. */
  private[functions] def binary(f: (Expression, Expression) => Expression)(a: Column, b: Column): Column =
    GraftColumnBridge.column(f(
      GraftColumnBridge.expression(a.cast("array<double>")),
      GraftColumnBridge.expression(b.cast("array<double>"))))

  /** Codegen'd dot product of two numeric array columns. */
  def dot(a: Column, b: Column): Column = binary(DotProduct.apply)(a, b)

  /** Codegen'd squared L2 distance of two numeric array columns. */
  def l2DistSq(a: Column, b: Column): Column = binary(L2DistSq.apply)(a, b)

  /** Codegen'd nearest-centroid assignment over a reference-object matrix. */
  def nearestCell(emb: Column, centroids: Array[Array[Double]]): Column = {
    require(centroids.nonEmpty, "nearestCell: empty centroid matrix")
    GraftColumnBridge.column(NearestCell(
      GraftColumnBridge.expression(emb.cast("array<double>")),
      centroids.map(_.toSeq).toSeq))
  }
}
