package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions
import graft.sources.CountryLut

/** The reference workload (`/root/reference/src/pipeline.py`) as one
  * declarative DataFrame query: NDJSON scan+parse → DeviceType filter →
  * RaceID normalization → broadcast left-outer enrichment join against the
  * country LUT → fixed 8-field projection with a nested `LocationData`
  * struct. The whole thing is a single narrow stage after the broadcast —
  * no shuffle — so it scales linearly with input splits on a cluster, and
  * that includes the sink: every split is encoded and written by its own
  * task, and the reference's one output shard is assembled from those part
  * files afterwards ([[graft.sources.JsonlSink]]).
  */
object FanPipeline {

  /** Input schema (verified over all 300 reference rows, SURVEY §1.3). */
  val inputSchema: StructType = StructType(Seq(
    StructField("FanID", StringType),
    StructField("RaceID", StringType),
    StructField("Timestamp", StringType),
    StructField("ViewerLocationCountry", StringType),
    StructField("DeviceType", StringType),
    StructField("EngagementMetric_secondswatched", LongType),
    StructField("PredictionClicked", BooleanType),
    StructField("MerchandisingClicked", BooleanType)))

  /** `LocationData` payload struct; field 4 is literally named
    * `official language` (space included) — `/root/reference/src/pipeline.py:114-120`.
    */
  val locationSchema: StructType = StructType(Seq(
    StructField("country", StringType),
    StructField("capital", StringType),
    StructField("continent", StringType),
    StructField("official language", StringType),
    StructField("currency", StringType)))

  /** NDJSON scan with permissive-drop semantics: unparseable lines and
    * non-object JSON vanish, matching `ParseJson`
    * (`/root/reference/src/pipeline.py:136-144`).
    *
    * Known divergence (documented, not observed in any reference input):
    * DROPMALFORMED also drops a well-formed object whose field value
    * contradicts the schema type (e.g. a string in
    * `EngagementMetric_secondswatched`); the schemaless reference would
    * carry such a value through untouched. All 300 reference rows are
    * type-clean, so golden parity is unaffected.
    */
  def readEvents(spark: SparkSession, glob: String): DataFrame =
    spark.read.schema(inputSchema).option("mode", "DROPMALFORMED").json(glob)

  /** `str(row.get("DeviceType","")).strip() != "Other"`
    * (`/root/reference/src/pipeline.py:147-151`): missing/null → kept,
    * whitespace trimmed, case-sensitive.
    */
  def deviceFilter: Column =
    trim(coalesce(col("DeviceType").cast(StringType), lit(""))) =!= "Other"

  /** Probe-side key: trim+lowercase then the ALIAS remap
    * (`/root/reference/src/pipeline.py:42-44`, `:171`). The remap runs on
    * the probe side BEFORE the LUT lookup — combined with the conditional
    * alias-key expansion on the build side this reproduces the UK/USA miss
    * quirk exactly (SURVEY §2A ⚠).
    */
  def probeKey(country: Column): Column = {
    val norm = lower(trim(coalesce(country, lit(""))))
    CountryLut.Alias.foldLeft(when(lit(false), norm)) { case (acc, (a, canon)) =>
      acc.when(norm === a, lit(canon))
    }.otherwise(norm)
  }

  /** Fallback payload on LUT miss (`/root/reference/src/pipeline.py:173-180`). */
  private def fallbackLocation(raw: Column): Column = struct(
    trim(coalesce(raw, lit(""))).as("country"),
    lit("").as("capital"),
    lit("").as("continent"),
    lit("").as("official language"),
    lit("").as("currency"))

  /** Full transform: events DF + country build-side DF → projected output. */
  def transform(events: DataFrame, countries: DataFrame): DataFrame = {
    val matched = struct(
      countries("country").as("country"),
      countries("capital").as("capital"),
      countries("continent").as("continent"),
      countries("official_language").as("official language"),
      countries("currency").as("currency"))
    events
      .filter(deviceFilter)
      .withColumn("RaceID", GraftFunctions.standardize_race_id(col("RaceID")))
      .join(broadcast(countries), probeKey(events("ViewerLocationCountry")) === countries("key_norm"), "left")
      .withColumn(
        "LocationData",
        when(countries("key_norm").isNotNull, matched)
          .otherwise(fallbackLocation(events("ViewerLocationCountry"))))
      .select(
        col("FanID"), col("RaceID"), col("Timestamp"), col("DeviceType"),
        col("EngagementMetric_secondswatched"), col("PredictionClicked"),
        col("MerchandisingClicked"), col("LocationData"))
  }

  /** End-to-end run mirroring the reference's `run(argv)` (`src/pipeline.py:262-296`):
    * a parallel write, then the one `{outputPrefix}-00000-of-00001.jsonl`
    * shard in `outputDir` joined from its parts in partition order.
    */
  def run(
      spark: SparkSession,
      jsonGlob: String,
      csvPath: String,
      outputDir: String,
      outputPrefix: String = "result"): DataFrame = {
    val out = transform(readEvents(spark, jsonGlob), CountryLut.df(spark, csvPath))
    graft.sources.JsonlSink.write(out, outputDir, outputPrefix)
    out
  }
}
