package graft

import graft.functions.CleanWordsExpression.CleanWords
import graft.functions.{CleanWordsUtil, TextFunctions}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Pins the native `clean_words` kernel (`TextFunctions.tokenize`,
  * graft.functions.CleanWordsUtil) against the regex/higher-order
  * composition it replaced, copied verbatim below: every row must give
  * the same token array, element for element. The inputs are a
  * fixed-seed generator over every char class the two paths treat
  * differently or not at all (the 32 punctuation chars, runs of spaces,
  * `\n` and the other Java `\s` chars, Unicode spaces, multi-byte
  * letters, surrogate pairs), raw ill-formed UTF-8 rows (the composed
  * form decoded through `java.lang.String`, so each bad sequence came
  * out as U+FFFD), the degenerate rows, and every `text` row of the
  * sf0.001 and sf0.01 `documents` tables. */
class TokenizerEquivalenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** `TextFunctions.tokenize` as it stood before the kernel. */
  private object Reference {
    val PunctClass: String = "[!-/:-@\\[-`{-~]"

    def tokenize(text: Column): Column =
      filter(
        split(regexp_replace(regexp_replace(text, "\\n", " "), PunctClass, ""), " +"),
        t => t.rlike("\\S"))
  }

  /** Runs both tokenizers over `text` (repartitioned, so the native one
    * runs in generated code, not folded into a local relation) and
    * asserts equal arrays row by row; the kernel's interpreted entry
    * point is held to the same arrays. Returns the row count. */
  private def assertSame(df: DataFrame): Int = {
    val rows = df.withColumn("id", monotonically_increasing_id())
      .repartition(3)
      .select(col("id"), col("text").cast("binary").as("raw"),
        Reference.tokenize(col("text")).as("old"),
        TextFunctions.tokenize(col("text")).as("new"))
      .collect()
    rows.foreach { r =>
      val raw = Option(r.getAs[Array[Byte]](1))
      val old = Option(r.getSeq[String](2))
      val got = Option(r.getSeq[String](3))
      assert(got === old,
        s"row ${r.getLong(0)}: ${raw.map(_.map(x => f"${x & 0xff}%02x").mkString(" "))}")
      val eval = raw.map(t => CleanWordsUtil
        .cleanWords(UTF8String.fromBytes(t)).toArray[UTF8String](StringType)
        .map(_.toString).toSeq)
      assert(eval === old, s"interpreted, row ${r.getLong(0)}")
    }
    rows.length
  }

  /** Pieces of text: each one exercises a different branch of either
    * tokenizer. */
  private val piece: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~".map(_.toString)),
    6 -> Gen.oneOf(" ", "  ", "   "),
    4 -> Gen.oneOf("\n", "\t", "\r", "\u000b", "\f", "\r\n"),
    3 -> Gen.oneOf("\u00a0", "\u3000", "\u2009", "\u0085"),
    4 -> Gen.oneOf("é", "ß", "İ", "ı", "中", "文字", "😀", "𝔘"),
    10 -> Gen.alphaNumStr.map(_.take(6)))

  private val textGen: Gen[String] =
    Gen.choose(0, 30).flatMap(Gen.listOfN(_, piece)).map(_.mkString)

  test("tokenize is a native expression typed array<string> without nulls") {
    val e = CleanWords(Literal("a b"))
    assert(e.dataType === ArrayType(StringType, containsNull = false))
    assert(!e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])
    assert(CleanWords(Literal(null, StringType)).eval() === null)
  }

  test("equal arrays on 4000 fixed-seed generated rows") {
    val texts = Gen.listOfN(4000, textGen)
      .pureApply(Gen.Parameters.default, Seed(501L))
    assert(assertSame(texts.toDF("text")) === 4000)
  }

  test("equal arrays on null, empty and degenerate rows") {
    val texts = Seq[String](null, "", " ", "   ", "\n", "\n\n", "!!!", ".,;:",
      "  lead", "trail  ", "  both  ", "\t", "a \t b", "\t\t \t", "\r\n",
      "a\u000bb", " \f ", "x-y z.", "-", "a - b", "He's here\nnow",
      "\u00a0", "a\u00a0b", "\u3000\u3000")
    assert(assertSame(texts.toDF("text")) === texts.length)
  }

  test("equal arrays on ill-formed UTF-8 rows") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val fixed = Seq(
      b(0x80), b(0xbf, 0x20, 0x61), b(0xc3), b(0x61, 0xc3, 0x20, 0x62),
      b(0xe2, 0x82), b(0xe2, 0x82, 0x2d, 0x78), b(0xc0, 0x80), b(0xc1, 0xbf),
      b(0xe0, 0x80, 0x80), b(0xe0, 0x9f, 0xbf), b(0xed, 0xa0, 0x80),
      b(0xed, 0xbf, 0xbf, 0x20, 0x61), b(0xf0, 0x80, 0x80, 0x80),
      b(0xf4, 0x90, 0x80, 0x80), b(0xf5, 0x80), b(0xff), b(0xfe, 0xff),
      b(0xf0, 0x9f, 0x98), b(0xf0, 0x9f, 0x98, 0x21), b(0xc3, 0xc3, 0xa9),
      b(0x09, 0x80, 0x0a, 0x2e, 0xe2, 0x80, 0x20))
    // random rows: a mix of ASCII separators, punctuation and high bytes
    val rnd = new scala.util.Random(501L)
    val alphabet = b(0x20, 0x0a, 0x09, 0x0d, 0x2e, 0x2d, 0x61, 0x5a,
      0x80, 0x9f, 0xa0, 0xbf, 0xc0, 0xc2, 0xc3, 0xdf, 0xe0, 0xe2, 0xed,
      0xef, 0xf0, 0xf4, 0xf5, 0xff)
    val random = Seq.fill(3000)(
      Array.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length))))
    val rows = fixed ++ random
    val df = rows.toDF("raw").select(col("raw").cast("string").as("text"))
    assert(assertSame(df) === rows.length)
  }

  test("equal arrays on every documents row at sf0.001 and sf0.01") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val docs = Tables.documents(spark, s"/root/testdata/$sf").select("text")
      assert(assertSame(docs) === docs.count())
    }
  }
}
