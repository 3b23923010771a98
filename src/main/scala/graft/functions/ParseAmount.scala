package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM core of the reference's `_parse_amount`
  * (services/contract_parser.py:467-483) shared by the native expression,
  * tests, and Rules. Kept as a static-shaped object so generated Java can
  * call it directly. */
object AmountParser {
  // \s is Unicode here like Python's re (the reference strips NBSP too)
  private val Strip = java.util.regex.Pattern.compile(
    "[R$US$USD€£\\s]", java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  /** Python float() literal grammar (sign, digitparts with single
    * underscores between digits, optional fraction/exponent, inf/nan).
    * Java's Double.valueOf alone accepts inputs Python rejects ('1d',
    * '1f', hex-floats '0x1p3') and rejects '1_000' which Python accepts —
    * the SQL-exposed parse_amount must diverge from the reference on
    * neither. (Python also folds Unicode decimal digits; out of scope —
    * the reference's amount regex only ever captures ASCII digits.) */
  private val PyFloat = java.util.regex.Pattern.compile(
    "(?i)[+-]?(?:inf(?:inity)?|nan|(?:\\d(?:_?\\d)*(?:\\.(?:\\d(?:_?\\d)*)?)?|\\.\\d(?:_?\\d)*)(?:e[+-]?\\d(?:_?\\d)*)?)")

  /** float(clean) with CPython semantics; null = ValueError. */
  private def pyFloat(s: String): java.lang.Double =
    if (!PyFloat.matcher(s).matches()) null
    else {
      val neg = s.startsWith("-")
      val body = (if (s.startsWith("+") || neg) s.substring(1) else s)
        .toLowerCase(java.util.Locale.ROOT)
      if (body == "inf" || body == "infinity")
        java.lang.Double.valueOf(if (neg) Double.NegativeInfinity else Double.PositiveInfinity)
      else if (body == "nan") java.lang.Double.valueOf(Double.NaN)
      else java.lang.Double.valueOf((if (neg) "-" else "") + body.replace("_", ""))
    }

  /** Boxed result: null = unparseable (Python except-path). */
  def parseBoxed(s: String): java.lang.Double = {
    var clean = Strip.matcher(s).replaceAll("")
    if (clean.indexOf(',') >= 0 && clean.indexOf('.') >= 0)
      clean = clean.replace(".", "").replace(",", ".")
    else if (clean.indexOf(',') >= 0)
      clean = clean.replace(",", ".")
    pyFloat(clean)
  }
}

/** Native Catalyst expression for the reference amount parser: codegen'd
  * (participates in whole-stage codegen — no UDF serialization, no
  * Option boxing per row), null-safe, deterministic. Demonstrates the
  * preferred extension order from the brief: built-in functions, then a
  * custom `Expression` with `doGenCode`, then UDF as last resort.
  *
  * SQL: `parse_amount(str)` after `GraftFunctions.register(spark)`;
  * Column API: `GraftFunctions.parse_amount(col)`. */
case class ParseAmount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"parse_amount requires a string argument, got ${child.dataType}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "parse_amount"

  override def nullSafeEval(input: Any): Any =
    AmountParser.parseBoxed(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val parser = "graft.functions.AmountParser$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("parsed")
      s"""
         |java.lang.Double $boxed = $parser.parseBoxed($c.toString());
         |if ($boxed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $boxed.doubleValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ParseAmount =
    copy(child = newChild)
}

object GraftFunctions {
  /** Column-API form. */
  def parse_amount(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      ParseAmount(org.apache.spark.sql.GraftBridge.expression(c)))

  /** Column-API form of `AlnumRuns.words`. */
  def alnum_words(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      AlnumWords(org.apache.spark.sql.GraftBridge.expression(c)))

  /** Column-API form of `AlnumRuns.starts`. */
  def alnum_word_starts(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      AlnumWordStarts(org.apache.spark.sql.GraftBridge.expression(c)))

  /** Register `parse_amount` for SQL use in this session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "parse_amount", exprs => ParseAmount(exprs.head), "built-in")
}
