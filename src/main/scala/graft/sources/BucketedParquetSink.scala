package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed parquet sink (SURVEY §2B source/sink inventory): writes a
  * table hash-partitioned into a fixed number of buckets on a key, so
  * every later equi-join or aggregation on that key runs with ZERO
  * exchanges. At 100 TB this is the first-class answer to "we join these
  * two fact tables every day": pay the shuffle once at write time,
  * never again at read time. The bucket count is a layout contract —
  * both join sides must agree on it (Spark also co-locates when one side
  * is an integer multiple of the other).
  *
  * Files are plain parquet plus catalog metadata carrying the bucket
  * spec; `saveAsTable` is required because pathless `save()` cannot
  * record it.
  */
object BucketedParquetSink {

  /** Write `df` as a bucketed parquet table, replacing any previous
    * physical directory (the in-memory catalog forgets tables between
    * JVMs but their warehouse directories persist — clear them
    * physically so a fresh JVM's create never collides with a stale
    * layout of different bucketing).
    */
  def write(df: DataFrame, table: String, bucketKey: String, nBuckets: Int,
      sortKeys: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Scratch.delete(new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table))
    val sorts = if (sortKeys.nonEmpty) sortKeys else Seq(bucketKey)
    // Pre-shuffle onto the bucket hash (repartition and bucketBy share
    // Murmur3 HashPartitioning semantics) so every task holds exactly
    // one bucket → ONE file per bucket. Without it each write task
    // emits a file per bucket it sees (tasks × buckets small files at
    // scale), and readers only elide their merge Sort when a bucket is
    // a single file.
    df.repartition(nBuckets, org.apache.spark.sql.functions.col(bucketKey))
      .write.mode("overwrite")
      .bucketBy(nBuckets, bucketKey)
      .sortBy(sorts.head, sorts.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Engine query for the sink: write orders and customer bucketed on
    * the join key, then join the bucketed tables. With both sides
    * bucketed on the key, the sort-merge join plans with ZERO shuffle
    * exchanges — only partition-local sorts remain (Spark ≥3.0 bucketed
    * scans don't propagate sortBy ordering), asserted by
    * `BucketingSpec`; result equality vs the plain parquet join is the
    * DuckDB oracle's job. The `merge` hint keeps the small side out of a
    * broadcast so the exchange-free bucketed path is what actually runs.
    */
  def colocatedOrdersJoin(spark: SparkSession, dir: String): DataFrame = {
    write(Tables(spark, dir, "orders"), "graft_bkt_orders", "o_custkey", 8)
    write(Tables(spark, dir, "customer"), "graft_bkt_customer", "c_custkey", 8)
    val o = spark.table("graft_bkt_orders")
    val c = spark.table("graft_bkt_customer")
    o.join(c.hint("merge"), o("o_custkey") === c("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
        col("o_totalprice"))
  }
}
