package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink format matrix beyond parquet: ORC, CSV, and JSON-lines
  * write→read roundtrips. Each query writes a projected table slice to a
  * fresh temp directory in the engine's native writer, reads it back
  * through the matching reader with an explicit schema, and aggregates —
  * the DuckDB oracle computes the same aggregate over the ORIGINAL
  * parquet, so the roundtrip proves bit-exact fidelity of the format
  * path (doubles survive via shortest-repr text in CSV/JSON; ORC is
  * binary-exact).
  *
  * Scale posture: writer and reader are both plain distributed jobs (one
  * output split per partition — no coalesce, no driver collect), so the
  * same code is the 100 TB export/import path.
  */
object Roundtrip {

  /** One directory per (JVM, format): stable within a JVM so overwrite
    * mode truncates instead of accumulating copies across repeated runs,
    * but unique across JVMs so concurrent Bench/Verify processes can't
    * clobber each other's roundtrip files mid-read. The directory is
    * deleted at JVM exit so repeated JVMs don't accumulate table copies
    * in the (often tmpfs) tmpdir.
    */
  private def tempDir(tag: String): String =
    Scratch.tmpDir(s"graft_rt_${Scratch.jvmTag}_$tag").getAbsolutePath

  /** lineitem → ORC → read → pricing-style aggregate. */
  def orcLineitem(spark: SparkSession, dir: String): DataFrame = {
    val out = tempDir("orc")
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("sum_price"))
  }

  /** orders → CSV (header, explicit read schema) → aggregate by status. */
  def csvOrders(spark: SparkSession, dir: String): DataFrame = {
    val out = tempDir("csv")
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").option("header", "true").csv(out)
    spark.read
      .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .option("header", "true").csv(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("total"))
  }

  /** part → XML (rowTag elements, explicit read schema) → aggregate by
    * brand. XML joined the built-in source matrix in Spark 4; the writer
    * emits one `<part>` element per row and the reader parses them
    * distributed, one task per file split, like every other text source.
    * Doubles survive via shortest-repr text exactly as in the CSV/JSON
    * roundtrips.
    */
  def xmlParts(spark: SparkSession, dir: String): DataFrame = {
    val out = tempDir("xml")
    Tables(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      .write.mode("overwrite").option("rowTag", "part").format("xml").save(out)
    spark.read
      .schema("p_partkey BIGINT, p_brand STRING, p_retailprice DOUBLE")
      .option("rowTag", "part").format("xml").load(out)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(col("p_retailprice").cast("decimal(12,2)")).cast("double").as("total"))
  }

  /** Schema-drift read: two writer generations land in one dataset —
    * generation 1 predates the `value` column, generation 2 carries it
    * (the normal life of any long-lived ingestion pipeline). A
    * `mergeSchema` parquet read reconciles the footers into the union
    * schema, with generation-1 rows surfacing NULL `value`; the
    * aggregate then has to be null-correct (COUNT(value) counts only
    * gen-2 rows). At 100 TB schema evolution via footer merge is what
    * lets a pipeline add columns without rewriting history. Note the
    * cost model: mergeSchema reconciles footers at planning time — cheap
    * against a generation count, not against raw file count (compaction
    * keeps the latter bounded).
    */
  def schemaEvolutionEvents(spark: SparkSession, dir: String): DataFrame = {
    val out = tempDir("evo")
    val ev = Tables(spark, dir, "events")
    ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("event_type"))
      .write.mode("overwrite").parquet(s"$out/gen1")
    ev.filter(col("event_id") % 2 =!= 0)
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$out/gen2")
    spark.read.option("mergeSchema", "true").parquet(s"$out/gen1", s"$out/gen2")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("value")).as("n_with_value"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
  }

  /** DYNAMIC PARTITION OVERWRITE — the incremental-refresh write
    * semantics a partitioned lake table needs: `partitionOverwriteMode
    * = dynamic` replaces ONLY the partitions the incoming frame
    * contains and leaves every other partition's files untouched
    * (static mode would truncate the whole table first). The fixture
    * writes all events partitioned by event_type tagged `gen = 'orig'`,
    * then rewrites JUST the 'click' partition tagged `'rewrite'`; the
    * read-back proves clicks were replaced and nothing else moved —
    * the daily-partition backfill pattern at 100 TB, where rewriting
    * the table for one day's refresh is the difference between a 0.3%
    * write and a 100% write. Exact-cents sums keep the gate strict.
    */
  def dynamicOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val out = tempDir("dynover")
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100d).cast("long").as("cents"))
    ev.withColumn("gen", lit("orig"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    ev.filter(col("event_type") === "click")
      .withColumn("gen", lit("rewrite"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(out)
    spark.read.parquet(out)
      .groupBy(col("event_type"), col("gen"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
  }

  /** CORRUPT-RECORD QUARANTINE (the dead-letter route): a deterministic
    * slice of the JSON props column is corrupted in-flight (a leading
    * '{' on event_id % 97 = 0 — derived from the table, not
    * synthesized; a TRAILING brace isn't enough, Jackson's lenient
    * parser accepts a valid prefix), the parse classifies each row by
    * whether extraction succeeded, and BOTH routes aggregate — the
    * malformed-input contract a 100 TB ingest needs: bad records are
    * counted and kept addressable, never silently dropped (the
    * reference drops its bad lines; this is the grown-up version of
    * `pipeline.py:136-144`).
    */
  def deadLetter(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("event_id"),
        when(col("event_id") % 97 === 0, concat(lit("{"), col("props")))
          .otherwise(col("props")).as("props"))
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .withColumn("outcome",
        when(col("k").isNull, "quarantined").otherwise("parsed"))
      .groupBy(col("outcome"))
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("k"), lit(0))).cast("long").as("k_sum"))

  /** events → JSON lines → aggregate per event_type. */
  def jsonEvents(spark: SparkSession, dir: String): DataFrame = {
    val out = tempDir("json")
    Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").json(out)
    spark.read
      .schema("event_id BIGINT, event_type STRING, value DOUBLE")
      .json(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
  }
}
