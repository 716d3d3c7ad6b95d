package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** |A ∩ B| of two SORTED-ascending distinct `array<bigint>` columns as a
  * single two-pointer merge — the verify kernel of the pair-dedup family
  * (containment / Jaccard check `size(array_intersect(a, b))` on every
  * candidate pair).
  *
  * `size(array_intersect(_))` builds a per-row hash set of the left side
  * AND allocates the materialized intersection array, only to take its
  * length — at the measured sf4-replica containment verify that is 181M
  * candidate rows × (hash-set build + array allocation) on ~600-element
  * sets, and the allocation pressure is the stage (GC-bound, 557 s of a
  * 655 s stage-isolated wall; SURVEY.md §5n-2). The shingle/chunk
  * frames are `array_sort`ed distinct hashes by construction, so the
  * intersection SIZE needs no set and no allocation: one branch-light
  * merge walk, fully inside whole-stage codegen.
  *
  * Sortedness/distinctness is the CALLER's contract (every dedup-family
  * frame applies `array_sort(array_distinct(...))` or sorts pre-hashed
  * distinct shingles); on unsorted input the count is merely a lower
  * bound, which is why this lives next to the dedup operators and is not
  * a general SQL surface. Result is exactly `size(array_intersect(a,b))`
  * for such inputs — oracle-neutral by construction.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType

  // containsNull = false REQUIRED: the merge walk reads getLong on every
  // slot, and a null slot would silently read an undefined value —
  // diverging from size(array_intersect) null semantics. Every internal
  // dedup frame is xxhash64/shingle_hashes-derived (containsNull = false
  // by those expressions' dataType), so only an external SQL caller can
  // hit this, and they get an analysis-time error instead of wrong counts.
  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, containsNull) => !containsNull
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> columns with non-null " +
        s"elements, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    java.lang.Integer.valueOf(c)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        |final int $na = $a.numElements();
        |final int $nb = $b.numElements();
        |int $i = 0; int $j = 0; int $c = 0;
        |while ($i < $na && $j < $nb) {
        |  final long $x = $a.getLong($i);
        |  final long $y = $b.getLong($j);
        |  if ($x < $y) { $i++; }
        |  else if ($x > $y) { $j++; }
        |  else { $c++; $i++; $j++; }
        |}
        |${ev.value} = $c;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "sorted_intersect_count"
}

object SortedIntersectCount {
  def count(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("sorted_intersect_count", a, b)

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_intersect_count",
      exprs => SortedIntersectCount(exprs.head, exprs(1)), "built-in")
}
