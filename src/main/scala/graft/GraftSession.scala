package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory for the graft engine.
  *
  * Local-mode defaults tuned for the driver harness (local[32], 128 GiB
  * box): 32 shuffle partitions instead of the stock 200, AQE on so skewed
  * joins / tiny partitions re-plan at runtime, UTC session time zone for
  * oracle (DuckDB) parity. On a real cluster the same builder is used with
  * whatever master/mem the submitter provides; nothing here assumes a
  * single JVM.
  */
object GraftSession {

  /** Configs every graft session wants regardless of master. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    .config("spark.sql.adaptive.enabled", "true")
    // object-hash aggregates (MinHash/SimHash sketches) keep hashing up to
    // 4096 groups per partition before the sort-based fallback — each
    // sketch buffer is ~0.5 KiB, so this is ~2 MiB of agg state per task
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.compression.codec", "zstd")
    .config("spark.ui.enabled", "false")

  /** The one local-mode session factory, used by every local driver main
    * (Bench, Verify, ScaleBench, Explain, plans.EdgeBuildProbe) and the
    * test session: [[tune]] on `local[cores]`, shuffle partitions pinned
    * to `cores` so both stay in lockstep, ERROR logging, and graft's
    * functions registered. `pipeline.Main` builds its own session because
    * it accepts any `--master`.
    */
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = tune(SparkSession.builder().master(s"local[$cores]").appName(appName))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)
    spark
  }

  /** Register graft's custom Catalyst functions with an existing session
    * (idempotent). Needed so `expr("standardize_race_id(c)")` and
    * `call_function` resolve.
    */
  def register(spark: SparkSession): Unit =
    graft.functions.GraftFunctions.register(spark)
}
