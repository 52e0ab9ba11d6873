package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextExpressionsSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.sql.GraftSql.register(spark)
  }

  private val precomposedE = "é"      // é as one code point
  private val decomposedE = "é"      // e + combining acute

  test("NFC composes, NFD decomposes, round-trips are idempotent") {
    import spark.implicits._
    val df = Seq(decomposedE, precomposedE, "plain").toDF("s")
    val r = df.select(
      TextExpressions.nfc(col("s")).as("c"),
      TextExpressions.unicodeNormalize(col("s"), "NFD").as("d")).collect()
    assert(r(0).getString(0) == precomposedE && r(0).getString(1) == decomposedE)
    assert(r(1).getString(0) == precomposedE && r(1).getString(1) == decomposedE)
    assert(r(2).getString(0) == "plain" && r(2).getString(1) == "plain")
    val again = df.select(TextExpressions.nfc(TextExpressions.nfc(col("s")))).collect()
    assert(again.map(_.getString(0)).toSeq == Seq(precomposedE, precomposedE, "plain"))
  }

  test("NFKC folds compatibility forms: ligature, fullwidth, superscript") {
    import spark.implicits._
    // ﬁ = fi ligature, Ｈｉ = fullwidth "Hi", ² = superscript 2
    val df = Seq("ﬁle", "Ｈｉ", "x²").toDF("s")
    val r = df.select(TextExpressions.nfkc(col("s"))).collect().map(_.getString(0))
    assert(r.toSeq == Seq("file", "Hi", "x2"))
  }

  test("strip_accents matches DuckDB semantics on Latin diacritics") {
    import spark.implicits._
    val df = Seq("été", "niño", "über", decomposedE, "ascii")
      .toDF("s")
    val r = df.select(TextExpressions.stripAccents(col("s"))).collect()
      .map(_.getString(0))
    assert(r.toSeq == Seq("ete", "nino", "uber", "e", "ascii"))
  }

  test("SQL registration + codegen path agree with the Column API") {
    import spark.implicits._
    val df = Seq(decomposedE + " ﬁne ÜBER").toDF("s")
    val viaSql = df.selectExpr("strip_accents(unicode_nfkc(s))").head().getString(0)
    val viaCol = df.select(
      TextExpressions.stripAccents(TextExpressions.nfkc(col("s")))).head().getString(0)
    assert(viaSql == viaCol)
    assert(viaSql == "e ﬁne UBER" || viaSql == "e fine UBER")
    // NFKC before strip: the ligature must fold
    assert(viaSql == "e fine UBER")
  }

  test("nulls propagate; non-string input is rejected at analysis") {
    import spark.implicits._
    val df = Seq(Some("a"), None).toDF("s")
    val r = df.select(TextExpressions.nfc(col("s"))).collect()
    assert(r(1).isNullAt(0))
    val bad = intercept[Exception] {
      Seq(1).toDF("i").select(TextExpressions.nfc(col("i"))).collect()
    }
    assert(bad.getMessage.toLowerCase.contains("string"))
  }

  test("canonicalTextKey collapses unicode-evasive duplicate variants") {
    import spark.implicits._
    val base = "the quick brown fox"
    val variants = Seq(
      base,
      base.replace("o", "ö"),         // ö precomposed
      base.replace("o", "ö"),        // o + combining diaeresis
      base.toUpperCase,
      base.replace(" ", "  \t "))
    val keys = variants.toDF("s")
      .select(TextExpressions.canonicalTextKey(col("s"))).collect()
      .map(_.getString(0)).toSet
    assert(keys == Set(base))
  }
}
