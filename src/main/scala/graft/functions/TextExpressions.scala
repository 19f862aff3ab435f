package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.text.Normalizer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization as a native Catalyst expression.
  *
  * Text dedup at corpus scale is only as good as its canonical form:
  * `é` written as U+00E9 and as `e` + U+0301 are different byte strings,
  * so hash-based exact dedup misses them unless every document is brought
  * to one normalization form first. Spark has no built-in NFC/NFD/NFKC/NFKD
  * function (DuckDB ships `nfc_normalize`; ICU collations address sorting,
  * not projection), so this wraps `java.text.Normalizer` — the JDK's
  * implementation of the Unicode standard forms — as a codegen'd unary
  * expression: no UDF serialization, stays inside whole-stage codegen,
  * and the per-row fast path (`Normalizer.isNormalized`) makes the common
  * already-normalized case a cheap scan.
  */
object TextExpressions {

  /** `unicode_normalize(s, form)` with form ∈ NFC | NFD | NFKC | NFKD
    * (plan-time constant). Null propagates.
    */
  case class UnicodeNormalize(child: Expression, form: String)
      extends UnaryExpression {
    require(Set("NFC", "NFD", "NFKC", "NFKD").contains(form),
      s"unsupported normalization form $form (use NFC/NFD/NFKC/NFKD)")
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }
    override def dataType: DataType = StringType
    override def prettyName: String = "unicode_normalize"

    override def nullSafeEval(a: Any): Any =
      TextExpressions.normalize(a.asInstanceOf[UTF8String], form)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"""${ev.value} = graft.functions.TextExpressions.normalize($a, "$form");""")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `term_counts(s, terms)` = `[dl, tf_0 … tf_{m-1}]` as `array<int>`:
    * the token count of `s` and how often each term occurs among its
    * tokens, in ONE byte scan that allocates no token strings. Tokens are
    * the maximal runs of ASCII `[A-Za-z0-9_]` — exactly
    * [[graft.ops.TextAnalysis.tokens]] (`\W+` split, empties removed),
    * because every UTF-8 byte ≥ 0x80 (lead or continuation, valid or
    * not) is a non-word character. Terms (a plan-time constant) match
    * byte-for-byte: the kernel does not case-fold, so callers pass
    * `lower(text)` and lower-case terms; a term that is not a token (empty,
    * non-ASCII, punctuated) counts 0. Null propagates.
    */
  case class TermCounts(child: Expression, terms: Seq[String])
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "term_counts"

    @transient private lazy val termBytes: Array[Array[Byte]] =
      terms.map(_.getBytes(UTF_8)).toArray

    override def nullSafeEval(a: Any): Any =
      TextExpressions.termCounts(a.asInstanceOf[UTF8String], termBytes)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val tRef = ctx.addReferenceObj("terms", termBytes, "byte[][]")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.TextExpressions.termCounts($a, $tRef);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private val wordByte: Array[Boolean] = Array.tabulate(128)(c =>
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_')

  private def isWord(b: Byte): Boolean = b >= 0 && wordByte(b)

  /** Static loop body of [[TermCounts]] (interpreted eval and generated
    * code). Per token: one length compare per term, bytes only on a
    * length match.
    */
  def termCounts(s: UTF8String, terms: Array[Array[Byte]]): ArrayData = {
    val out = new Array[Int](terms.length + 1)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var i = 0
    while (i < n) {
      if (!isWord(Platform.getByte(base, off + i))) i += 1
      else {
        val start = i
        while (i < n && isWord(Platform.getByte(base, off + i))) i += 1
        out(0) += 1
        val len = i - start
        var j = 0
        while (j < terms.length) {
          val t = terms(j)
          if (t.length == len) {
            var k = 0
            while (k < len && Platform.getByte(base, off + start + k) == t(k)) k += 1
            if (k == len) out(j + 1) += 1
          }
          j += 1
        }
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // form is a plan-time constant; resolve the enum once, not per row
  private val forms: Map[String, Normalizer.Form] =
    Normalizer.Form.values().map(f => f.name -> f).toMap

  /** Shared by interpreted eval and generated code (static call target). */
  def normalize(s: UTF8String, form: String): UTF8String = {
    val f = forms(form)
    val str = s.toString
    if (Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(Normalizer.normalize(str, f))
  }
}

/** Column-level API + SQL registration for the text kernels. */
object TextFunctions {
  import TextExpressions._

  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    GraftExpressionBridge.column(
      UnicodeNormalize(GraftExpressionBridge.expression(text), form))

  /** `[dl, tf_0 … tf_{m-1}]` of `text` against `terms` — see
    * [[TextExpressions.TermCounts]]. */
  def termCounts(text: Column, terms: Seq[String]): Column =
    GraftExpressionBridge.column(
      TermCounts(GraftExpressionBridge.expression(text), terms))

  /** SQL surface: `unicode_normalize(s, 'NFC')`. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "unicode_normalize",
      es => UnicodeNormalize(es(0), graft.GraftExtensions.litString(es(1), "form")),
      "scala_udf")
}
