package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** Shared contract-violation error for the sorted-merge kernels (a plain
  * object compiles to a static forwarder, so generated Java calls it too).
  */
object SortedIntersectCount {
  def nullElement(): IllegalArgumentException =
    new IllegalArgumentException(
      "SortedIntersectCount: null array element — inputs must be null-free " +
        "ascending-sorted arrays (the staged builders array_sort null-free " +
        "columns); use array_intersect for null-tolerant semantics")
}

/** Count of DISTINCT common elements of two ASCENDING-SORTED arrays — the
  * value of `size(array_intersect(a, b))`, computed by a two-pointer merge
  * instead of the generic expression's per-invocation hash set.
  *
  * Why this exists (r13, from the sf10dc rehearsal's thread profile): the
  * exact set-similarity verify evaluates one intersection per surviving
  * candidate pair — 313.5M pairs at the 100×-documents point — and every
  * `ArrayIntersect.nullSafeEval` call builds a fresh hash set of one side,
  * probes the other, and MATERIALIZES the intersection array just to take
  * its size. All 32 executor threads sat in that eval. The merge needs the
  * inputs sorted once AT BUILD TIME (the staged per-doc arrays are written
  * `array_sort`ed — a per-row O(k log k) paid once per corpus, not per
  * pair), then each pair costs one linear pass with zero allocation, inside
  * whole-stage codegen.
  *
  * Contract: both inputs sorted ascending in Spark's `array_sort` order for
  * the element type (unsigned-lexicographic for BINARY — the same order
  * `java.util.Arrays.compareUnsigned` implements — natural order for
  * BIGINT). Duplicate elements are counted once, exactly like
  * `array_intersect`'s set semantics, so the expressions are drop-in
  * value-equal replacements (the parity spec pins this, duplicates
  * included). Unsorted input is a CONTRACT VIOLATION with silently wrong
  * counts — every call site reads a frame whose builder sorts. NULL
  * ELEMENTS are likewise out of contract (`array_sort` would have placed
  * them last, where the merge order is undefined for them) — unlike
  * `array_intersect`, which tolerates them; a null element fails loudly
  * with a contract message instead of an NPE deep in codegen (binary) or
  * a silently-wrong count (long, where `getLong` on a null slot reads 0).
  */
case class SortedBinaryIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(BinaryType, _), ArrayType(BinaryType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"SortedBinaryIntersectCount needs two ARRAY<BINARY> inputs, " +
          s"got ${left.dataType} / ${right.dataType}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      val xi = x.getBinary(i)
      val yj = y.getBinary(j)
      if (xi == null || yj == null) throw SortedIntersectCount.nullElement()
      val cmp = java.util.Arrays.compareUnsigned(xi, yj)
      if (cmp < 0) i += 1
      else if (cmp > 0) j += 1
      else {
        c += 1
        i += 1
        j += 1
        while (i < n && java.util.Arrays.equals(x.getBinary(i), xi)) i += 1
        while (j < m && java.util.Arrays.equals(y.getBinary(j), xi)) j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val xi = ctx.freshName("xi")
      val cmp = ctx.freshName("cmp")
      val yj = ctx.freshName("yj")
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  byte[] $xi = $a.getBinary($i);
         |  byte[] $yj = $b.getBinary($j);
         |  if ($xi == null || $yj == null)
         |    throw graft.expressions.SortedIntersectCount.nullElement();
         |  int $cmp = java.util.Arrays.compareUnsigned($xi, $yj);
         |  if ($cmp < 0) { $i++; }
         |  else if ($cmp > 0) { $j++; }
         |  else {
         |    $c++; $i++; $j++;
         |    while ($i < $n && java.util.Arrays.equals($a.getBinary($i), $xi)) $i++;
         |    while ($j < $m && java.util.Arrays.equals($b.getBinary($j), $xi)) $j++;
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[SortedBinaryIntersectCount]] for ARRAY<BIGINT> — the triangle census's
  * adjacency-list closure (`|N⁺(u) ∩ N⁺(v)|` per edge, O(m^1.5)
  * evaluations) pays the same per-call hash-set tax at decade scale.
  */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"SortedLongIntersectCount needs two ARRAY<BIGINT> inputs, " +
          s"got ${left.dataType} / ${right.dataType}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      if (x.isNullAt(i) || y.isNullAt(j)) throw SortedIntersectCount.nullElement()
      val xi = x.getLong(i)
      val yj = y.getLong(j)
      if (xi < yj) i += 1
      else if (xi > yj) j += 1
      else {
        c += 1
        i += 1
        j += 1
        while (i < n && x.getLong(i) == xi) i += 1
        while (j < m && y.getLong(j) == xi) j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val xi = ctx.freshName("xi")
      val yj = ctx.freshName("yj")
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  if ($a.isNullAt($i) || $b.isNullAt($j))
         |    throw graft.expressions.SortedIntersectCount.nullElement();
         |  long $xi = $a.getLong($i);
         |  long $yj = $b.getLong($j);
         |  if ($xi < $yj) { $i++; }
         |  else if ($xi > $yj) { $j++; }
         |  else {
         |    $c++; $i++; $j++;
         |    while ($i < $n && $a.getLong($i) == $xi) $i++;
         |    while ($j < $m && $b.getLong($j) == $xi) $j++;
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
