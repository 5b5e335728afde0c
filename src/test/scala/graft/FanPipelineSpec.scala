package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.FanPipeline
import graft.sources.CountryLut

/** Golden end-to-end parity with the reference
  * (`/root/reference/output/sample0-00000-of-00001.jsonl`): the Spark
  * pipeline on the reference's own inputs must reproduce the 237-row
  * golden output as a canonicalized-JSON multiset (ordering and JSON
  * whitespace are non-goals per SURVEY §7.3). The last test runs the same
  * pipeline on the in-repo fan fixture, so it needs no snapshot.
  */
class FanPipelineSpec extends AnyFunSuite {

  private val refGlob = "/root/reference/input/*fan_engagement-000-of-001.json"
  private val refCsv = "/root/reference/input_side/country_data_v2.csv"
  private val golden = "/root/reference/output/sample0-00000-of-00001.jsonl"
  private val refInput = Paths.get(refGlob).getParent.toString

  /** The reference-bound tests read the upstream snapshot, which is not in
    * the repo: where a path is absent the test is cancelled, naming it;
    * wherever the snapshot exists it runs unchanged.
    */
  private def assumeReference(paths: String*): Unit =
    paths.foreach(p => assume(Files.exists(Paths.get(p)), s"reference snapshot absent: $p"))

  private lazy val result = {
    val spark = TestSpark.spark
    FanPipeline.transform(
      FanPipeline.readEvents(spark, refGlob),
      CountryLut.df(spark, refCsv))
  }

  /** Canonical form: to_json over the full row (schema field order is
    * identical on both sides), collected and sorted.
    */
  private def canonical(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(col): _*), Map("ignoreNullFields" -> "false")))
      .collect().map(_.getString(0)).sorted.toSeq

  test("golden multiset parity: 237 rows, byte-canonical JSON match") {
    assumeReference(golden, refInput, refCsv)
    val spark = TestSpark.spark
    val goldenDf = spark.read.schema(FanPipeline.inputSchema
      .filter(_.name != "ViewerLocationCountry")
      .foldLeft(new org.apache.spark.sql.types.StructType)((s, f) => s.add(f))
      .add("LocationData", FanPipeline.locationSchema))
      .json(golden)
      .select(result.columns.map(col): _*)
    val got = canonical(result)
    val want = canonical(goldenDf)
    assert(got.size == 237)
    assert(got == want)
  }

  test("filter semantics: 63 'Other' rows dropped from 300") {
    assumeReference(refInput)
    val spark = TestSpark.spark
    val all = FanPipeline.readEvents(spark, refGlob)
    assert(all.count() == 300)
    assert(all.filter(FanPipeline.deviceFilter).count() == 237)
  }

  test("UK/USA alias-miss quirk: 28 fallback rows with empty capital") {
    assumeReference(refInput, refCsv)
    val n = result.filter(col("LocationData.capital") === "" &&
      col("LocationData.country").isin("UK", "USA")).count()
    assert(n == 28)
  }

  test("RaceID fully normalized in output") {
    assumeReference(refInput, refCsv)
    val vals = result.select(col("RaceID")).distinct().collect().map(_.getString(0)).sorted
    assert(vals.toSeq == Seq("cup25", "league04", "race11"))
  }

  test("byte-exact golden parity: pythonStyle sink reproduces json.dumps bytes") {
    assumeReference(refInput, refCsv, golden)
    val out = java.nio.file.Files.createTempDirectory("graft-golden-bytes-").toString
    val path = graft.sources.JsonlSink.write(result, out, "sample0", pythonStyle = true)
    val got = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
    val want = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(golden))
    assert(got.size() == 237)
    // Beam's emission order is nondeterministic, so equality is over the
    // sorted line multiset — but each LINE is now byte-identical to the
    // reference's json.dumps output, not just canonically equivalent
    import scala.jdk.CollectionConverters._
    assert(got.asScala.sorted == want.asScala.sorted)
  }

  test("JSONL sink writes Beam shard naming") {
    assumeReference(refInput, refCsv)
    val out = java.nio.file.Files.createTempDirectory("graft-golden-").toString
    val path = graft.sources.JsonlSink.write(result, out, "sample0")
    assert(path.endsWith("sample0-00000-of-00001.jsonl"))
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
    assert(lines.size() == 237)
  }

  /** The in-repo fan fixture (`fixtures/fan`, FIXTURES.md §A5). Each
    * expected value is worked out by hand from the fixture's text with the
    * §A1/§A2 rules, not read back from the pipeline: 15 events, 5 per file;
    * each file's F003 is an `Other` row (`"Other"` twice, `" Other "` once),
    * so 12 rows remain. The CSV names `UK` and `USA` literally, so their 4
    * rows miss the LUT and fall back, as does the one `Chile` row; the other
    * 7 rows resolve.
    */
  test("in-repo fan fixture: Other filter, RaceIDs, UK/USA fallback, BOM header, quoted and accented cells") {
    val spark = TestSpark.spark
    val csv = s"${SparkEntry.fanFixture}/input_side/country_data_v2.csv"
    val events = FanPipeline.readEvents(spark,
      s"${SparkEntry.fanFixture}/input/*fan_engagement-000-of-001.json")
    val rows = FanPipeline.transform(events, CountryLut.df(spark, csv))
      .select(col("FanID"), col("RaceID"), col("LocationData.*")).collect()
      .map(r => (r.getString(0), r.getString(1), (2 to 6).map(r.getString)))
    val loc = rows.map(_._3)

    // both `Other` spellings dropped, every other row kept
    assert(events.count() == 15)
    assert(rows.length == 12)
    assert(!rows.exists(_._1 == "F003"))
    // "Cup 25", "league:04", "race_11"
    assert(rows.map(_._2).distinct.sorted.toSeq == Seq("cup25", "league04", "race11"))
    // UK/USA: the alias keys never fire, so every such row is the fallback
    val ukUsa = loc.filter(l => l.head == "UK" || l.head == "USA")
    assert(ukUsa.length == 4)
    assert(ukUsa.forall(_.tail == Seq("", "", "", "")))
    assert(loc.filter(_.head == "Chile").toSeq == Seq(Seq("Chile", "", "", "", "")))
    // the BOM sits on `Country`: every LUT row still resolves its country
    val lut = CountryLut.build(csv)
    assert(lut.keySet == Set("spain", "india", "brazil", "colombia", "uk", "usa", "japan", "mexico"))
    assert(lut.values.map(_.country).toSet ==
      Set("Spain", "India", "Brazil", "Colombia", "UK", "USA", "Japan", "Mexico"))
    assert(loc.filter(_(1).nonEmpty).map(l => (l.head, l(1))).sorted.toSeq == Seq(
      ("Brazil", "Brasília"), ("Brazil", "Brasília"), ("Colombia", "Bogotá"),
      ("Colombia", "Bogotá"), ("India", "New Delhi"), ("Mexico", "Mexico City"),
      ("Spain", "Madrid")))
    // the quoted cell keeps its comma; accented values keep their bytes
    assert(lut("india").officialLanguage == "Hindi, English")
    assert(loc.filter(_.head == "India").toSeq ==
      Seq(Seq("India", "New Delhi", "Asia", "Hindi, English", "INR")))
    assert(lut("brazil").capital == "Brasília" && lut("colombia").capital == "Bogotá")
  }
}
