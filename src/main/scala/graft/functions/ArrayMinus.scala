package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{
  BinaryArrayExpressionWithImplicitCast, BinaryExpression, Expression
}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native order-preserving array difference: the elements of `left` that
  * equal no non-null element of `right`, in `left`'s order, duplicates
  * kept. Exactly `filter(left, x -> !coalesce(array_contains(right, x),
  * false))` — the reference's list-comprehension diff — without the
  * interpreted lambda's O(|left|·|right|) comparisons per row:
  *
  *  - null members of `left` are always kept (array_contains of a null is
  *    null, which the coalesce reads as "absent");
  *  - a null `left` gives null; a null `right` returns `left` unchanged;
  *  - element equality is array_contains' `ordering.equiv` — NaN equals
  *    NaN, 0.0 equals -0.0, strings compare under their collation.
  *
  * Where that equality is plain `equals` (integral types, UTF8_BINARY
  * strings) `right` goes into a hash set, O(|left| + |right|) per row.
  * Every other element type (floats, decimals, binary, collated strings,
  * arrays, structs) scans `right` with the ordering.
  *
  * Unlike `array_except` it neither deduplicates nor drops nulls, so it is
  * the right tool where duplicates and order must survive (W7's ordered
  * composition diff).
  */
case class ArrayMinus(left: Expression, right: Expression)
    extends BinaryExpression with BinaryArrayExpressionWithImplicitCast {

  override def prettyName: String = "array_minus"
  override def dataType: DataType = left.dataType
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    super.checkInputDataTypes() match {
      case TypeCheckResult.TypeCheckSuccess =>
        TypeUtils.checkForOrderingExpr(elementType, prettyName)
      case failure => failure
    }

  @transient private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(elementType)

  /** Whether the elements' `equals` is `ordering.equiv`, so `right` can
    * go into a hash set. `StringType` matches the UTF8_BINARY collation
    * only (StringType equality includes the collation). */
  @transient private lazy val hashable: Boolean = elementType match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) null
    else {
      val b = right.eval(input)
      if (b == null) a else minus(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    }
  }

  /** `a` minus the non-null members of `b`; returns `a` itself when no
    * member goes. Called by both eval paths. */
  def minus(a: ArrayData, b: ArrayData): ArrayData = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 || m == 0) return a
    val present: Any => Boolean =
      if (hashable) {
        val set = new java.util.HashSet[Any](m * 2)
        var j = 0
        while (j < m) {
          if (!b.isNullAt(j)) set.add(b.get(j, elementType))
          j += 1
        }
        set.contains
      } else x => {
        var j = 0
        var hit = false
        while (!hit && j < m) {
          hit = !b.isNullAt(j) && ordering.equiv(b.get(j, elementType), x)
          j += 1
        }
        hit
      }
    val kept = new Array[Any](n)
    var k = 0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) { kept(k) = null; k += 1 }
      else {
        val x = a.get(i, elementType)
        if (!present(x)) { kept(k) = x; k += 1 }
      }
      i += 1
    }
    if (k == n) a else new GenericArrayData(kept.take(k))
  }

  // The per-row work is the hash set, not the glue around it, so the
  // generated code calls `minus` on this instance; generating it (rather
  // than falling back) keeps the enclosing stage whole-stage compiled.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("arrayMinus", this)
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val arrayData = classOf[ArrayData].getName
    ev.copy(code =
      code"""
         |${l.code}
         |boolean ${ev.isNull} = ${l.isNull};
         |$arrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${r.code}
         |  ${ev.value} = ${r.isNull} ? ${l.value} : $self.minus(${l.value}, ${r.value});
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayMinus =
    copy(left = newLeft, right = newRight)
}

object ArrayMinus {
  /** `array_minus(a, b)`: `a` without the members of `b`, order and
    * duplicates kept (see [[ArrayMinus]]). */
  def array_minus(a: Column, b: Column): Column =
    Bridge.column(ArrayMinus(Bridge.expression(a), Bridge.expression(b)))
}
