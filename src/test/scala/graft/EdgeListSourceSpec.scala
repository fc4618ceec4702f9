package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{EdgeLineExpr, EdgeListSource}

/** Differential test of the byte-level edge-line parser against the
  * composable chain `EdgeListSource.load` ran before it, kept here
  * verbatim as the oracle. */
class EdgeListSourceSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  /** The former `EdgeListSource.load` body, minus the file read;
    * `keep` columns ride along so results can be matched per line. */
  private def oracle(text: DataFrame, keep: String*): DataFrame = {
    val toks = split(trim(col("value")), "\\s+")
    text
      .filter(length(trim(col("value"))) > 0)
      .select(keep.map(col) ++ Seq(
        // try_cast: malformed lines yield null (dropped below) instead
        // of failing the whole scan under ANSI mode.
        element_at(toks, 1).try_cast("long").as("src"),
        try_element_at(toks, lit(2)).try_cast("long").as("dst")): _*)
      .filter(col("src").isNotNull && col("dst").isNotNull)
  }

  private val token: Gen[String] = Gen.frequency(
    8 -> Gen.choose(0L, 2000000L).map(_.toString),
    2 -> Gen.choose(0L, 999L).map(n => "000" + n),
    2 -> Gen.choose(-99999L, 99999L).map(n => if (n >= 0) s"+$n" else n.toString),
    1 -> Gen.oneOf("-", "+", "--3", "+-4", "-0", "+0"),
    2 -> Gen.oneOf("9223372036854775807", "9223372036854775808",
      "-9223372036854775808", "-9223372036854775809",
      "999999999999999999", "1000000000000000000",
      "12345678901234567890", "00000000000000000000042"),
    1 -> Gen.listOfN(19, Gen.numChar).map(_.mkString),
    2 -> Gen.oneOf("1.5", "2.", ".5", "1.0", "-3.25", "1e3", "1,000"),
    2 -> Gen.oneOf("\u0661\u0662", "\uff11\uff12", "\u0663", "7\u0660"),
    1 -> Gen.oneOf("\u00017", "8\u0001", "\u001c9", "\u0085" + "4"),
    2 -> Gen.oneOf("abc", "0x1F", "NaN", "vertex", "#", "\u00e9"),
    1 -> Gen.const(""))

  private val separator: Gen[String] = Gen.frequency(
    8 -> Gen.const(" "),
    3 -> Gen.oneOf("  ", "\t", " \t ", "\t\t"),
    2 -> Gen.oneOf("\r", "\u000b", "\f", " \r ", "\n"),
    2 -> Gen.oneOf("\u00a0", "\u3000", "\u2003", "\u0085", "\u001c"))

  private val edge: Gen[String] = for {
    lead <- Gen.frequency(6 -> "", 2 -> " ", 1 -> "   ", 2 -> "\t", 1 -> " \t")
    n <- Gen.frequency(1 -> 0, 2 -> 1, 8 -> 2, 2 -> 3, 1 -> 5)
    toks <- Gen.listOfN(n, token)
    seps <- Gen.listOfN(n, separator)
    trail <- Gen.frequency(6 -> "", 2 -> " ", 2 -> "\t", 2 -> "\r", 1 -> " \t ")
  } yield lead + toks.zip(seps).map { case (t, s) => t + s }
    .mkString.dropRight(seps.lastOption.map(_.length).getOrElse(0)) + trail

  private val corpus: Seq[String] =
    Gen.listOfN(3000, edge).apply(Gen.Parameters.default, Seed(20261017L)).get

  /** (old chain, parser) rows as (line index, src, dst), by index. */
  private def parsedWithIndex(lines: Seq[String]): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val df = lines.zipWithIndex.toDF("value", "idx")
    val got = df.select(col("idx"),
      ColumnBridge.column(EdgeLineExpr(ColumnBridge.expression(col("value")))))
    def rows(d: DataFrame) = d.orderBy("idx").collect().toSeq.map(_.toSeq)
    (rows(oracle(df, "idx")), rows(got))
  }

  test("seeded messy corpus: the parser matches the old chain line for line") {
    val (want, got) = parsedWithIndex(corpus)
    assert(got == want)
    // the corpus exercises both outcomes in volume
    assert(want.size > 400 && corpus.size - want.size > 400,
      s"${want.size} of ${corpus.size} lines kept")
  }

  test("the interpreted path matches the generated code") {
    val key = "spark.sql.codegen.wholeStage"
    val before = spark.conf.get(key)
    val codegen = parsedWithIndex(corpus)._2
    spark.conf.set(key, "false")
    try assert(parsedWithIndex(corpus)._2 == codegen)
    finally spark.conf.set(key, before)
  }

  test("pinned cases: whatever the old chain yields, line by line") {
    val cases = Seq(
      "\t1 2" -> None, // leading tab: empty first token, line dropped
      " \t1 2" -> None,
      "1\t2" -> Some((1L, 2L)),
      "1 2\r" -> Some((1L, 2L)),
      "3\r4" -> Some((3L, 4L)),
      "  7   8  " -> Some((7L, 8L)),
      "007 +8" -> Some((7L, 8L)),
      "-3 -0" -> Some((-3L, 0L)),
      "9223372036854775807 1" -> Some((Long.MaxValue, 1L)),
      "-9223372036854775808 1" -> Some((Long.MinValue, 1L)),
      "9223372036854775808 1" -> None, // 19-digit overflow
      "1 12345678901234567890" -> None, // 20 digits
      "1.5 2" -> None, // no decimal truncation in try_cast
      "1 2.0" -> None,
      "\u0661 \u0662" -> None, // Arabic-Indic digits
      "1\u00a02" -> None, // NBSP is not a separator
      "1\u30002" -> None, // nor is the ideographic space
      "\u00015 6" -> Some((5L, 6L)), // toLongExact trims ISO controls
      "12" -> None,
      "12 " -> None,
      "12\t" -> None, // trailing empty token
      "1 2 3" -> Some((1L, 2L)),
      "1 2 x" -> Some((1L, 2L)),
      "" -> None,
      "   " -> None,
      "\t" -> None)
    for ((line, want) <- cases) {
      val (old, got) = parsedWithIndex(Seq(line))
      val expect = want.toSeq.map { case (s, d) => Seq(0, s, d) }
      assert(old == expect, s"old chain on ${line.map(_.toInt)}")
      assert(got == expect, s"parser on ${line.map(_.toInt)}")
    }
  }

  test("load matches the old chain on a file with \\r\\n, tabs and bad UTF-8") {
    val out = new ByteArrayOutputStream()
    corpus.zipWithIndex.foreach { case (l, i) =>
      out.write(l.getBytes(UTF_8))
      out.write((if (i % 3 == 0) "\r\n" else "\n").getBytes(UTF_8))
    }
    // invalid UTF-8 inside and next to tokens
    Seq(Array[Byte](0xc3.toByte, ' ', '5', ' ', '6'),
      Array[Byte]('5', ' ', 0xc3.toByte, '6'),
      Array[Byte]('5', ' ', '6', ' ', 0xff.toByte),
      Array[Byte]('5', 0xe0.toByte, ' ', '6'))
      .foreach { b => out.write(b); out.write('\n') }
    val f = Files.createTempFile("edges", ".txt")
    try {
      Files.write(f, out.toByteArray)
      val want = oracle(spark.read.text(f.toString))
        .as[(Long, Long)].collect().toSeq
      val got = EdgeListSource.load(spark, f.toString)
        .as[(Long, Long)].collect().toSeq
      assert(got == want, s"old chain only: ${want.diff(got).take(10)}; " +
        s"parser only: ${got.diff(want).take(10)}")
      assert(want.contains((5L, 6L)) && want.size > 400)
    } finally Files.delete(f)
  }
}
