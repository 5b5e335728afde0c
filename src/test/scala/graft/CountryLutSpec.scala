package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CountryLut

/** CSV side-input loader robustness (`/root/reference/src/pipeline.py:56-130`
  * semantics): delimiter sniffing, BOM, header aliasing, dup handling, and
  * the conditional alias-key expansion quirk.
  */
class CountryLutSpec extends AnyFunSuite {

  private val refCsv = "/root/reference/input_side/country_data_v2.csv"

  private def tmpCsv(content: String): String = {
    val p: Path = Files.createTempFile("graft-lut-", ".csv")
    Files.writeString(p, content)
    p.toString
  }

  test("reference CSV: 25 countries, no alias keys fire (UK/USA literal)") {
    assume(Files.exists(Paths.get(refCsv)), s"reference snapshot absent: $refCsv")
    val lut = CountryLut.build(refCsv)
    assert(lut.size == 25)
    assert(lut.contains("uk") && lut.contains("usa")) // literal short names
    assert(!lut.contains("united kingdom") && !lut.contains("united states"))
    assert(lut("spain").capital == "Madrid")
    assert(lut("india").officialLanguage == "Hindi, English") // quoted cell
    assert(lut("brazil").capital == "Brasília") // UTF-8 value
  }

  test("BOM on first header survives (country field resolves)") {
    assume(Files.exists(Paths.get(refCsv)), s"reference snapshot absent: $refCsv")
    val lut = CountryLut.build(refCsv)
    assert(lut.values.forall(_.country.nonEmpty))
  }

  test("alias expansion fires only for canonical long names") {
    val lut = CountryLut.build(tmpCsv(
      """Country,Capital,Continent,Main Official Language,Currency
        |United States,Washington,America,English,USD
        |France,Paris,Europe,French,EUR""".stripMargin))
    assert(lut.size == 5) // 2 rows + usa/us/u.s. aliases
    assert(lut("usa").capital == "Washington")
    assert(lut("u.s.").capital == "Washington")
    assert(!lut.contains("uk"))
  }

  test("semicolon, pipe and tab delimiters sniffed") {
    for (d <- Seq(";", "|", "\t")) {
      val lut = CountryLut.build(tmpCsv(
        s"Country${d}Capital${d}Currency\nSpain${d}Madrid${d}EUR\n"))
      assert(lut("spain").capital == "Madrid", s"delimiter '$d'")
    }
  }

  test("alternate header names resolve via aliases") {
    val lut = CountryLut.build(tmpCsv(
      """Country Name,Capital City,Region,Official_Language,Currency Code
        |Japan,Tokyo,Asia,Japanese,JPY""".stripMargin))
    val j = lut("japan")
    assert(j.capital == "Tokyo" && j.continent == "Asia" &&
      j.officialLanguage == "Japanese" && j.currency == "JPY")
  }

  test("duplicate country: last row wins; country-less rows skipped") {
    val lut = CountryLut.build(tmpCsv(
      """Country,Capital
        |Spain,Madrid
        |,Ghost
        |Spain,Barcelona""".stripMargin))
    assert(lut.size == 1)
    assert(lut("spain").capital == "Barcelona")
  }

  test("headers with trailing spaces / underscores / hyphens normalize") {
    val lut = CountryLut.build(tmpCsv(
      "Country ,capital-city\nPeru,Lima\n"))
    assert(lut("peru").capital == "Lima")
  }

  test("build-side DataFrame has one row per key") {
    assume(Files.exists(Paths.get(refCsv)), s"reference snapshot absent: $refCsv")
    val spark = TestSpark.spark
    val df = CountryLut.df(spark, refCsv)
    assert(df.count() == 25)
    assert(df.columns.toSeq ==
      Seq("key_norm", "country", "capital", "continent", "official_language", "currency"))
  }
}
