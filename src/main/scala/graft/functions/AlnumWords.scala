package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The one definition of a "word" for the gram tier: a maximal run of
  * ASCII `[a-zA-Z0-9]`. The scan walks the UTF-8 bytes once: every byte
  * of a non-ASCII codepoint is >= 0x80, so no decoding is needed and no
  * non-ASCII character (İ, the Kelvin sign, fullwidth digits, emoji) can
  * join or split a word. Static-shaped so generated Java calls it
  * directly. */
object AlnumRuns {
  private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  /** The word runs of `s` as consecutive (byte start, byte end, codepoint
    * start) triples. A codepoint begins at every byte that is not a UTF-8
    * continuation byte (10xxxxxx) — the count Spark's substring uses. */
  private def runs(s: UTF8String): Array[Int] = {
    val nBytes = s.numBytes()
    var out = new Array[Int](48)
    var k = 0; var i = 0; var cp = 0
    while (i < nBytes) {
      val b = s.getByte(i)
      if (isWordByte(b)) {
        val start = i
        while (i < nBytes && isWordByte(s.getByte(i))) i += 1
        if (k + 3 > out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
        out(k) = start; out(k + 1) = i; out(k + 2) = cp; k += 3
        cp += i - start
      } else {
        if ((b & 0xC0) != 0x80) cp += 1
        i += 1
      }
    }
    java.util.Arrays.copyOf(out, k)
  }

  /** The ASCII-lowercased words of `s`. */
  def words(s: UTF8String): ArrayData = {
    val r = runs(s)
    val out = new Array[Any](r.length / 3)
    var j = 0
    while (j < out.length) {
      val from = r(3 * j); val len = r(3 * j + 1) - from
      val w = new Array[Byte](len)
      var i = 0
      while (i < len) {
        val b = s.getByte(from + i)
        w(i) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
        i += 1
      }
      out(j) = UTF8String.fromBytes(w)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** The 0-based codepoint offset of each word of `s`: word `i` of
    * `words(s)` starts at codepoint `starts(s)(i)`. */
  def starts(s: UTF8String): ArrayData = {
    val r = runs(s)
    UnsafeArrayData.fromPrimitiveArray(Array.tabulate(r.length / 3)(j => r(3 * j + 2)))
  }
}

/** Shared shape of the two `AlnumRuns` expressions: string in (implicit
  * cast, like the built-in string functions), null in -> null out, one
  * static call per row in generated code. */
sealed abstract class AlnumRunsExpression(method: String, elem: DataType)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(elem, containsNull = false)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AlnumRuns$$.MODULE$$.$method($c)")
}

/** `AlnumRuns.words` as a Catalyst expression. */
case class AlnumWords(child: Expression)
    extends AlnumRunsExpression("words", StringType) {
  override def prettyName: String = "alnum_words"
  override def nullSafeEval(input: Any): Any =
    AlnumRuns.words(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): AlnumWords =
    copy(child = newChild)
}

/** `AlnumRuns.starts` as a Catalyst expression. */
case class AlnumWordStarts(child: Expression)
    extends AlnumRunsExpression("starts", IntegerType) {
  override def prettyName: String = "alnum_word_starts"
  override def nullSafeEval(input: Any): Any =
    AlnumRuns.starts(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): AlnumWordStarts =
    copy(child = newChild)
}
