package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet sink (SURVEY §2B source/sink inventory): thin, deliberate
  * wrapper so callers state partitioning intent explicitly — at 100 TB
  * the difference between an unpartitioned dump and a
  * `partitionBy(date)`-style layout is the difference between full scans
  * and partition pruning for every downstream reader.
  */
object ParquetSink {

  def write(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  // JVM-unique so concurrent processes can't clobber each other's files
  // mid-read; deleted at JVM exit so repeated Verify/Bench/test JVMs don't
  // accumulate full event-table copies in the (often tmpfs) tmpdir.
  private lazy val partDir: String = Scratch.tmpDir(s"graft_part_${Scratch.jvmTag}").getAbsolutePath
  private lazy val dimDir: String = Scratch.tmpDir(s"graft_partdim_${Scratch.jvmTag}").getAbsolutePath

  /** Engine query for the partitioned layout: write events partitioned
    * by event_type, read back filtered to ONE partition value, and
    * aggregate. The filter resolves against directory names before any
    * file opens (PartitionFilters on the scan, asserted by
    * `ScanPruningSpec`) — the 100 TB reader touches 1/|event types| of
    * the files; the oracle checks the aggregate over the unpartitioned
    * original, pinning that layout never changes results.
    */
  def partitionPrunedEvents(spark: SparkSession, dir: String): DataFrame = {
    val out = partDir
    write(Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("ts"), col("value")),
      out, partitionBy = Seq("event_type"))
    read(spark, out)
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
  }

  /** DYNAMIC partition pruning — the runtime sibling of
    * [[partitionPrunedEvents]]'s static prune: the fact side is the
    * same event_type-partitioned layout, but the predicate lives on a
    * DIMENSION table (event-type attributes), so no literal filter on
    * the partition column exists at plan time. Spark's PartitionPruning
    * rule plants a `dynamicpruningexpression` on the fact scan that
    * executes the dim side first (reusing its broadcast) and prunes
    * fact PARTITIONS — directories, not rows — at runtime
    * (`DppSpec` pins the expression in the plan). At 100 TB this is
    * the star-schema workhorse: "last quarter's conversion events" via
    * a date/attribute dim touches 1/|partitions| of the files without
    * anyone hand-writing the partition predicate.
    */
  def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    val out = partDir
    write(Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("ts"), col("value")),
      out, partitionBy = Seq("event_type"))
    val spark2 = spark
    import spark2.implicits._
    // the dim must be a SCAN for the pruning rule to see its predicate
    // (a local relation's filter constant-folds away before planning)
    val dimPath = dimDir
    Seq(
      ("view", "engagement"), ("click", "engagement"),
      ("purchase", "conversion"), ("signup", "conversion"),
      ("error", "ops")).toDF("event_type", "kind")
      .write.mode("overwrite").parquet(dimPath)
    read(spark, out)
      .join(read(spark, dimPath).filter(col("kind") === "conversion"), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
  }
}
