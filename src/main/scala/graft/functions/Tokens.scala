package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static runtime for [[Tokens]] so generated code can call it. */
object TokenUtil {

  /** Lower-case of each ASCII byte that belongs to a token (`[A-Za-z0-9]`),
    * 0 for every other ASCII byte.
    */
  private val lut: Array[Byte] = Array.tabulate[Byte](128) { b =>
    if (b >= 'a' && b <= 'z' || b >= '0' && b <= '9') b.toByte
    else if (b >= 'A' && b <= 'Z') (b + 32).toByte
    else 0
  }

  /** The tokens of `s`: maximal `[a-z0-9]` runs of `lower(s)`. An ASCII
    * row is split in one pass over its bytes, lower-casing as it copies; a
    * row with any other byte is first lower-cased by [[lower]], then split
    * by the same pass.
    */
  def tokens(s: UTF8String, useICU: Boolean): ArrayData = {
    val ascii = runs(s, asciiOnly = true)
    if (ascii ne null) ascii else runs(lower(s, useICU), asciiOnly = false)
  }

  /** Exactly what Spark's `lower` applies to a UTF8_BINARY string. Kept out
    * of the ASCII path: the first call initializes Spark's case mapping,
    * a one-time cost of over a second per JVM.
    */
  private def lower(s: UTF8String, useICU: Boolean): UTF8String =
    CollationSupport.Lower.exec(s, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)

  /** Maximal `[A-Za-z0-9]` runs of `s`'s bytes, lower-cased. A byte of 0x80
    * or above ends a run, or, when `asciiOnly`, stops the pass with null.
    */
  private def runs(s: UTF8String, asciiOnly: Boolean): ArrayData = {
    val n = s.numBytes()
    val out = new ArrayBuffer[Any]()
    var start = -1
    var i = 0
    while (i <= n) {
      val b = if (i < n) s.getByte(i) else 0.toByte
      if (b < 0 && asciiOnly) return null
      if (b > 0 && lut(b) != 0) {
        if (start < 0) start = i
      } else if (start >= 0) {
        val tok = new Array[Byte](i - start)
        var j = 0
        while (j < tok.length) { tok(j) = lut(s.getByte(start + j)); j += 1 }
        out += UTF8String.fromBytes(tok)
        start = -1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `Tokens(text)`: lower-cased alphanumeric tokens, the same array as the
  * declarative `filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')`
  * for every input, valid UTF-8 or not, with
  * `spark.sql.icu.caseMappings.enabled` on or off.
  *
  * That chain is three operators: `lower`, whose first call in a JVM
  * initializes Spark's case mapping; a regex split over a decoded Java
  * string; and an interpreted lambda filter. This is one codegen'd pass
  * over the bytes of an ASCII row. Other rows are lower-cased exactly as
  * `lower` does, reading the ICU flag the way `Lower` reads it, and then
  * take the same pass.
  *
  * 100 TB shape: map-only, per-row cost linear in text length.
  */
case class Tokens(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {

  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TokenUtil.tokens(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenUtil.tokens($c, $useICU)")

  override def prettyName: String = "tokens"
  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}
