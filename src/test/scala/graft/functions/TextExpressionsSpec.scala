package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import graft.ops.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, StructField, StructType}

class TextExpressionsSpec extends SparkSpec {
  import spark.implicits._

  // U+00E9 (composed) vs "e" + U+0301 (decomposed): canonically equivalent
  private val composed = "café"
  private val decomposed = "café"

  test("NFC unifies composed and decomposed forms; NFD round-trips") {
    val df = Seq((1, composed), (2, decomposed)).toDF("id", "s")
      .select($"id", TextFunctions.unicodeNormalize($"s", "NFC").as("nfc"),
        TextFunctions.unicodeNormalize($"s", "NFD").as("nfd"))
    val rows = df.collect().map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows(1)._1 == rows(2)._1, "NFC forms must be byte-identical")
    assert(rows(1)._2 == rows(2)._2, "NFD forms must be byte-identical")
    assert(rows(1)._1 == composed)
    assert(rows(1)._2 == decomposed)
  }

  test("null propagates; invalid form rejected at construction") {
    val df = Seq(Option.empty[String]).toDF("s")
      .select(TextFunctions.unicodeNormalize($"s").as("n"))
    assert(df.head().isNullAt(0))
    intercept[IllegalArgumentException] {
      TextExpressions.UnicodeNormalize(
        org.apache.spark.sql.GraftExpressionBridge.expression(lit("x")), "NFX")
    }
  }

  test("SQL registration via session extensions path") {
    TextFunctions.register(spark)
    val out = spark.sql(
      s"SELECT unicode_normalize('$decomposed', 'NFC') AS n").head().getString(0)
    assert(out == composed)
  }

  test("canonicalize: accents folded, case folded, whitespace collapsed") {
    val df = Seq("  CAFÉ  du\t Zürich ", "café du zurich")
      .toDF("s").select(TextAnalysis.canonicalize($"s").as("c"))
    val out = df.collect().map(_.getString(0))
    assert(out(0) == "cafe du zurich")
    assert(out(1) == "cafe du zurich")
  }

  test("codegen and interpreted eval agree") {
    val df = Seq(composed, decomposed, "plain ascii", "").toDF("s")
    val gen = df.select(TextFunctions.unicodeNormalize($"s", "NFKC")).collect()
    // force interpreted path by evaluating the expression directly
    val expr = TextExpressions.UnicodeNormalize(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.StringType, nullable = true), "NFKC")
    val interp = Seq(composed, decomposed, "plain ascii", "").map { s =>
      expr.eval(org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))).toString
    }
    assert(gen.map(_.getString(0)).toSeq == interp)
  }

  // tokenizer boundary cases; every string enters as bytes through a
  // binary cast, so invalid UTF-8 reaches the string functions unrepaired
  private val boundary: Seq[Array[Byte]] = Seq(
    null, "", "!a!", "...", "a  b", "_", "foo_bar 42 _x9 A a", "Ab AB ab",
    "café straße", "\u0130stanbul", "\u212Aelvin", "a\uD83D\uDE00b",
    "the end.").map(x => if (x == null) null else x.getBytes(UTF_8)) ++ Seq(
    Array(0x61, 0xC3, 0x28, 0x62, 0xFF, 0x63, 0xE2, 0x82), // bad lead/truncated
    Array(0x78, 0x80, 0x79, 0xC0, 0xAF, 0x7A),             // stray continuation, overlong
    Array(0x61, 0xED, 0xA0, 0x80, 0x62)                    // encoded lone surrogate
  ).map(_.map(_.toByte))

  /** The boundary strings, from an RDD so no optimizer rule pre-evaluates
    * the projections on the driver (they run in the configured mode). */
  private def boundaryStrings: DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(
        boundary.zipWithIndex.map { case (b, i) => Row(i, b) }, 2),
      StructType(Seq(StructField("id", IntegerType), StructField("raw", BinaryType))))
    .select(col("id"), col("raw").cast("string").as("s"))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("term_counts matches size(tokens) and per-term token filters, codegen and interpreted") {
    // upper-case and duplicate terms, and terms that can never be a token
    val terms = Seq("a", "b", "A", "a", "k", "kelvin", "i", "stanbul", "_",
      "42", "foo_bar", "x9", "caf", "é", "straße", "", "x y", "end")
    def check(x: Column): Seq[Row] = boundaryStrings.select(col("id"),
        TextFunctions.termCounts(x, terms).as("k"),
        size(TextAnalysis.tokens(x)).as("dl"),
        array(terms.map(t => size(filter(TextAnalysis.tokens(x), _ === lit(t)))): _*)
          .as("tf"))
      .orderBy("id").collect().toSeq
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false"))
      withConf("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage) {
        for (x <- Seq(col("s"), lower(col("s")))) {
          val rows = check(x)
          assert(rows.size == boundary.size)
          rows.foreach { r =>
            val id = r.getInt(0)
            if (boundary(id) == null) assert(r.isNullAt(1), s"$mode $x row $id")
            else assert(r.getSeq[Int](1) == r.getInt(2) +: r.getSeq[Int](3),
              s"$mode $x row $id")
          }
        }
        // spot values: İ lowers to i + U+0307, the Kelvin sign to ASCII k
        val low = check(lower(col("s"))).map(r => r.getInt(0) -> r).toMap
        assert(low(9).getSeq[Int](1).take(8) == Seq(2, 0, 0, 0, 0, 0, 0, 1))
        assert(low(10).getSeq[Int](1).take(7) == Seq(1, 0, 0, 0, 0, 0, 1))
      }
  }

  test("tokens (\\W+ split, empties removed) equals regexp_extract_all(\\w+)") {
    for (x <- Seq(col("s"), lower(col("s")))) {
      val bad = boundaryStrings
        .where(!(TextAnalysis.tokens(x) <=> regexp_extract_all(x, lit("\\w+"), lit(0))))
        .select("id").collect().map(_.getInt(0))
      assert(bad.isEmpty, s"$x differs on rows ${bad.mkString(",")}")
    }
  }
}
