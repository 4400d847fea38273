package graft.functions

import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** The channel-vector loops behind [[ArrayOps]]: one static method per
  * kernel, called by both the generated code and interpreted eval, so the
  * two paths cannot disagree. Each loop reads `double`s straight from the
  * input `ArrayData` and writes a fresh `UnsafeArrayData`: no lambda, no
  * boxed element.
  *
  * Each loop is bit-exact with the higher-order-function form it replaced
  * (those forms live on only as references in `ArrayKernelsSpec`):
  *  - sums run in ascending index order from a `0.0` seed, and a null
  *    element adds `0.0` (so `0.0 + -0.0` rounds the same way);
  *  - the element-wise pairs follow `zip_with`: the result is as long as
  *    the longer input, and a missing or null element gives a null;
  *  - division by zero throws `DIVIDE_BY_ZERO` under ANSI and gives a null
  *    otherwise, and a null operand wins over a zero divisor, as `Divide`.
  */
object ArrayKernelsImpl {

  /** F5: NaN and null elements become null; length is kept. */
  def maskNaN(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = UnsafeArrayData.createFreshArray(n, 8)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) out.setNullAt(i)
      else {
        val x = a.getDouble(i)
        if (java.lang.Double.isNaN(x)) out.setNullAt(i) else out.setDouble(i, x)
      }
      i += 1
    }
    out
  }

  /** Null elements become `v`. */
  def fillNulls(a: ArrayData, v: Double): ArrayData = {
    val n = a.numElements()
    val out = UnsafeArrayData.createFreshArray(n, 8)
    var i = 0
    while (i < n) {
      out.setDouble(i, if (a.isNullAt(i)) v else a.getDouble(i))
      i += 1
    }
    out
  }

  /** A1: Σ xᵢ over the non-null elements. */
  def sum(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      s += (if (a.isNullAt(i)) 0.0 else a.getDouble(i))
      i += 1
    }
    s
  }

  /** The number of non-null elements. */
  def count(a: ArrayData): Long = {
    val n = a.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) c += 1
      i += 1
    }
    c
  }

  /** F7: element `idx(j)` (0-based) of `a`, as `element_at(a, idx(j) + 1)`:
    * null for a null array or element; past the end, an
    * `INVALID_ARRAY_INDEX_IN_ELEMENT_AT` error under ANSI, a null otherwise.
    */
  def pick(a: ArrayData, idx: Array[Int], elementType: DataType, failOnError: Boolean): ArrayData = {
    val m = idx.length
    val n = if (a == null) 0 else a.numElements()
    def at(j: Int): Int = {
      val i = idx(j)
      if (a == null) -1
      else if (i >= n) {
        if (failOnError) throw GraftColumnBridge.invalidElementAtIndex(i + 1, n)
        -1
      } else if (a.isNullAt(i)) -1
      else i
    }
    if (elementType == DoubleType) {
      val out = UnsafeArrayData.createFreshArray(m, 8)
      var j = 0
      while (j < m) {
        val i = at(j)
        if (i < 0) out.setNullAt(j) else out.setDouble(j, a.getDouble(i))
        j += 1
      }
      out
    } else {
      val out = new Array[Any](m)
      var j = 0
      while (j < m) {
        val i = at(j)
        if (i >= 0) out(j) = a.get(i, elementType)
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  /** A10: aᵢ − bᵢ. */
  def diff(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.max(na, nb)
    val out = UnsafeArrayData.createFreshArray(n, 8)
    var i = 0
    while (i < n) {
      if (i >= na || i >= nb || a.isNullAt(i) || b.isNullAt(i)) out.setNullAt(i)
      else out.setDouble(i, a.getDouble(i) - b.getDouble(i))
      i += 1
    }
    out
  }

  /** C8: aᵢ / bᵢ. */
  def divide(a: ArrayData, b: ArrayData, failOnError: Boolean): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.max(na, nb)
    val out = UnsafeArrayData.createFreshArray(n, 8)
    var i = 0
    while (i < n) {
      if (i >= na || i >= nb || a.isNullAt(i) || b.isNullAt(i)) out.setNullAt(i)
      else {
        val d = b.getDouble(i)
        if (d == 0.0) {
          if (failOnError) throw GraftColumnBridge.divideByZero()
          out.setNullAt(i)
        } else out.setDouble(i, a.getDouble(i) / d)
      }
      i += 1
    }
    out
  }
}

/** A unary array<double> kernel whose body is one [[ArrayKernelsImpl]] call
  * over the non-null input.
  */
abstract class ArrayKernelExpression extends UnaryExpression {
  /** Java source of the call, over the input array's variable. */
  protected def javaCall(a: String): String
  /** Scala mirror of [[javaCall]] for interpreted eval. */
  protected def call(a: ArrayData): Any

  override def nullSafeEval(v: Any): Any = call(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => javaCall(a))
}

/** F5 NaN mask (`array<double>`, null elements allowed). */
case class MaskNaN(child: Expression) extends ArrayKernelExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "mask_nan"
  override protected def javaCall(a: String): String = s"graft.functions.ArrayKernelsImpl.maskNaN($a)"
  override protected def call(a: ArrayData): Any = ArrayKernelsImpl.maskNaN(a)
  override protected def withNewChildInternal(newChild: Expression): MaskNaN = copy(child = newChild)
}

/** Null elements replaced by `value` (`array<double>`, no null elements). */
case class FillNulls(child: Expression, value: Double) extends ArrayKernelExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "fill_nulls"
  override protected def javaCall(a: String): String =
    s"graft.functions.ArrayKernelsImpl.fillNulls($a, " +
      s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(value)}L))"
  override protected def call(a: ArrayData): Any = ArrayKernelsImpl.fillNulls(a, value)
  override protected def withNewChildInternal(newChild: Expression): FillNulls = copy(child = newChild)
}

/** A1 channel sum. */
case class ArraySum(child: Expression) extends ArrayKernelExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_sum"
  override protected def javaCall(a: String): String = s"graft.functions.ArrayKernelsImpl.sum($a)"
  override protected def call(a: ArrayData): Any = ArrayKernelsImpl.sum(a)
  override protected def withNewChildInternal(newChild: Expression): ArraySum = copy(child = newChild)
}

/** Mean over the non-null elements; null when there are none. */
case class ArrayMean(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "array_mean"
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = ArrayKernelsImpl.count(a)
    if (n > 0) ArrayKernelsImpl.sum(a) / n.toDouble else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      s"""
         |final long $n = graft.functions.ArrayKernelsImpl.count($a);
         |if ($n > 0) {
         |  ${ev.value} = graft.functions.ArrayKernelsImpl.sum($a) / (double) $n;
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): ArrayMean = copy(child = newChild)
}

/** F7 channel pick: the elements at `indices` (0-based), in that order. Like
  * the `transform` over the literal index array it replaced, it is never
  * null itself: a null input gives an array of nulls, so its elements are
  * nullable whenever the input is (where that form's type says otherwise).
  */
case class PickChannels(child: Expression, indices: Seq[Int],
    failOnError: Boolean = SQLConf.get.ansiEnabled) extends UnaryExpression {
  @transient private lazy val idx: Array[Int] = indices.toArray
  private def elementType: DataType = child.dataType.asInstanceOf[ArrayType].elementType
  // Under ANSI an out-of-range index throws, so only a null input row or
  // the input's own null elements leave nulls.
  override def dataType: DataType = ArrayType(elementType, containsNull =
    !failOnError || child.nullable || child.dataType.asInstanceOf[ArrayType].containsNull)
  override def nullable: Boolean = false
  override def prettyName: String = "pick_channels"

  override def eval(input: InternalRow): Any =
    ArrayKernelsImpl.pick(child.eval(input).asInstanceOf[ArrayData], idx, elementType, failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val idxRef = ctx.addReferenceObj("indices", idx, "int[]")
    val typeRef = ctx.addReferenceObj("elementType", elementType, classOf[DataType].getName)
    ev.copy(code = code"""
      |${c.code}
      |final ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.ArrayKernelsImpl.pick(
      |  ${c.isNull} ? null : ${c.value}, $idxRef, $typeRef, $failOnError);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PickChannels =
    copy(child = newChild)
}

/** A10 element-wise difference (`zip_with(a, b, x - y)`). */
case class VecDiff(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "vec_diff"
  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernelsImpl.diff(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ArrayKernelsImpl.diff($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDiff =
    copy(left = newLeft, right = newRight)
}

/** C8 element-wise division (`zip_with(a, d, x / y)`), ANSI as captured when
  * the column is built, like `Divide`.
  */
case class VecDivide(left: Expression, right: Expression,
    failOnError: Boolean = SQLConf.get.ansiEnabled) extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "vec_divide"
  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernelsImpl.divide(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], failOnError)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ArrayKernelsImpl.divide($a, $b, $failOnError)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDivide =
    copy(left = newLeft, right = newRight)
}
