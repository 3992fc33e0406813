package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static runtime for [[Shingles]] so generated code can call it. */
object ShingleUtil {
  private val space = UTF8String.fromString(" ")

  def shingles(toks: ArrayData, n: Int): ArrayData = {
    val sz = toks.numElements()
    if (sz < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](sz - n + 1)
    var i = 0
    while (i <= sz - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `Shingles(tokens, n)` — space-joined n-word shingles of a token array;
  * empty array when the document has fewer than n tokens.
  *
  * Semantically identical to the declarative
  * `transform(sequence(1, size(toks)-n+1), i -> concat_ws(' ', slice(toks, i, n)))`
  * — but that form re-evaluates the ENTIRE `toks` expression subtree
  * (the tokenizer pass over the full text) for every lambda element,
  * because `slice(toks, i, n)` inlines the tree into the lambda body:
  * O(tokens²) per document, the dominant cost of every shingle-based
  * operator. Here the child evaluates once per row and shingle assembly
  * is a linear pass.
  *
  * 100 TB shape: map-only, per-row cost linear in text length.
  */
case class Shingles(child: Expression, n: Int)
  extends UnaryExpression {

  require(n >= 1, s"shingles: n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingles requires array<string>, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    ShingleUtil.shingles(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleUtil.shingles($c, $n)")

  override def prettyName: String = "shingles"
  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}
