package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.ops.HybridSort

/** Runtime helpers for [[HybridSortArray]]; kept as a top-level object so
  * generated Java code can reach them through static forwarders.
  */
object HybridSortArrayUtil {
  def sortInt(ad: ArrayData, threshold: Int): ArrayData = {
    val n = ad.numElements()
    if (n <= 1) return ad.copy()
    val arr = ad.toIntArray()
    HybridSort.sortRange(arr, 0, n - 1, threshold)
    UnsafeArrayData.fromPrimitiveArray(arr)
  }

  def sortLong(ad: ArrayData, threshold: Int): ArrayData = {
    val n = ad.numElements()
    if (n <= 1) return ad.copy()
    val arr = ad.toLongArray()
    HybridSort.sortRangeL(arr, 0, n - 1, threshold)
    UnsafeArrayData.fromPrimitiveArray(arr)
  }

  /** Slow path for arrays that may contain nulls: non-null values sorted
    * ascending, nulls first (matches `sort_array(col, asc=true)` and
    * DuckDB `list_sort(l)` defaults).
    */
  def sortBoxed(ad: ArrayData, et: DataType, threshold: Int): ArrayData = {
    val n = ad.numElements()
    val vals = new java.util.ArrayList[Any](n)
    var nulls = 0
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i)) nulls += 1
      else vals.add(ad.get(i, et))
      i += 1
    }
    val longs = new Array[Long](vals.size())
    i = 0
    while (i < longs.length) {
      longs(i) = vals.get(i) match {
        case x: java.lang.Integer => x.longValue()
        case x: java.lang.Long    => x.longValue()
      }
      i += 1
    }
    if (longs.length > 1) HybridSort.sortRangeL(longs, 0, longs.length - 1, threshold)
    val out = new Array[Any](n)
    i = 0
    var j = nulls
    while (j < n) { out(j) = et match {
      case IntegerType => java.lang.Integer.valueOf(longs(j - nulls).toInt)
      case LongType    => java.lang.Long.valueOf(longs(j - nulls))
    }; j += 1 }
    new GenericArrayData(out)
  }
}

/** `hybrid_sort_array(arr[, threshold])` — sorts an int/long array column
  * ascending using the reference's hybrid quicksort+insertion-sort
  * (threshold default [[HybridSort.DefaultThreshold]]; the reference's is
  * 25, `SequentialQuickInsert.c:5`).
  *
  * Implemented as a native Catalyst expression (not a Scala UDF) so it
  * participates in whole-stage codegen: `doGenCode` emits a direct static
  * call with no serialization, boxing, or internal/external row conversion
  * on the hot path — at 100 TB the difference between a UDF and a codegen
  * expression on a per-row array op is a full extra copy of the column.
  */
case class HybridSortArray(child: Expression, threshold: Int = HybridSort.DefaultThreshold)
    extends UnaryExpression {

  override def dataType: DataType = child.dataType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType | LongType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"hybrid_sort_array requires array<int> or array<bigint>, got ${child.dataType.catalogString}")
  }

  private def elementType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  private def mayHaveNulls: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(input: Any): Any = {
    val ad = input.asInstanceOf[ArrayData]
    if (mayHaveNulls) HybridSortArrayUtil.sortBoxed(ad, elementType, threshold)
    else elementType match {
      case IntegerType => HybridSortArrayUtil.sortInt(ad, threshold)
      case LongType    => HybridSortArrayUtil.sortLong(ad, threshold)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val util = "graft.functions.HybridSortArrayUtil"
    val call: String => String =
      if (mayHaveNulls) {
        val etRef = ctx.addReferenceObj("et", elementType, classOf[DataType].getName)
        c => s"$util.sortBoxed($c, $etRef, $threshold)"
      } else elementType match {
        case IntegerType => c => s"$util.sortInt($c, $threshold)"
        case LongType    => c => s"$util.sortLong($c, $threshold)"
      }
    defineCodeGen(ctx, ev, call)
  }

  override def prettyName: String = "hybrid_sort_array"
  override protected def withNewChildInternal(newChild: Expression): HybridSortArray =
    copy(child = newChild)
}
