package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, lit, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet table loader for the `/root/testdata/sf*` star schema.
  * One `spark.read.parquet` per table — Catalyst pushes filters and prunes
  * columns into the scan, so callers never pre-trim anything here.
  *
  * `events.ts` has shipped in two physical layouts across testdata
  * generations: TIMESTAMP(NANOS) (which Spark's reader surfaces as long
  * nanos under `nanosAsLong` — it rejects the logical type otherwise) and
  * plain TIMESTAMP(MICROS) (read natively as TIMESTAMP_NTZ). Everything
  * downstream reads `ts` through [[ntz]], [[micros]], [[microsDiv]] and
  * [[storedTs]], the one place that knows the layout, so both layouts —
  * and any future regeneration — read identically.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Raw read — `events.ts` arrives exactly as stored (long nanos or
    * native timestamp, see the object doc).
    */
  def raw(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** True when the on-disk `ts` column is the legacy long-nanos layout. */
  private def tsIsLongNanos(schema: StructType): Boolean =
    schema("ts").dataType == LongType

  /** SQL expression normalizing the stored `ts` to TIMESTAMP_NTZ (µs).
    * Long layout: integer DIV, not `/` — double division would lose
    * precision on 1.7e18-scale nanos.
    */
  private def tsNtzSql(schema: StructType): String =
    if (tsIsLongNanos(schema)) "CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"
    else "CAST(ts AS TIMESTAMP_NTZ)"

  /** SQL expression for `ts` as an exact micro-epoch BIGINT. The NTZ
    * branch round-trips through the session time zone, which
    * GraftSession pins to UTC, so the naive wall-clock micros come back
    * unshifted.
    */
  private def tsMicrosSql(schema: StructType): String =
    if (tsIsLongNanos(schema)) "ts DIV 1000"
    else "unix_micros(CAST(ts AS TIMESTAMP))"

  /** The stored `ts` of `df` (a batch or streaming frame with the
    * table's columns) normalized to TIMESTAMP_NTZ.
    */
  def ntz(df: DataFrame): Column = expr(tsNtzSql(df.schema))

  /** The stored `ts` of `df` as an exact micro-epoch BIGINT — the
    * integer domain the sweep-line/interval operators compute in (µs is
    * the finest resolution both engines preserve, and integer arithmetic
    * is exact where double epoch math is not).
    */
  def micros(df: DataFrame): Column = expr(tsMicrosSql(df.schema))

  /** [[micros]] integer-divided by `unit` µs: the hour or day index. */
  def microsDiv(df: DataFrame, unit: Long): Column =
    expr(s"(${tsMicrosSql(df.schema)}) div $unit")

  /** The micro-epoch `us` as a `ts` value in `df`'s STORAGE layout, so a
    * row built with it unions by name with the stored rows.
    */
  def storedTs(df: DataFrame, us: Long): Column =
    if (tsIsLongNanos(df.schema)) lit(us * 1000L) else timestamp_micros(lit(us))

  /** Content fingerprint of `dir/name.parquet` — (path, length, mtime) of
    * every file under the table dir, hashed. Memoized trained models
    * (PQ codebooks, BPE merge tables) key on THIS rather than the raw dir
    * string, so rewriting the parquet in-place within one JVM (a spec
    * reusing a temp dir with mode=overwrite) invalidates the cache instead
    * of silently serving a stale model. Falls back to the path string for
    * non-local URIs (the caches are a local-JVM convenience either way).
    */
  def fingerprint(dir: String, name: String): String = {
    val root = new java.io.File(s"$dir/$name.parquet")
    if (!root.exists()) s"$dir/$name.parquet"
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      def walk(f: java.io.File): Unit = {
        md.update(s"${f.getPath}|${f.length()}|${f.lastModified()};".getBytes("UTF-8"))
        if (f.isDirectory) f.listFiles().sortBy(_.getName).foreach(walk)
      }
      walk(root)
      java.util.HexFormat.of().formatHex(md.digest())
    }
  }

  /** The engine's one input-spread policy: a keyless round-robin
    * `repartition(defaultParallelism)` of the input of a CPU-heavy
    * per-row pass.
    *
    * Parquet splits partitions by bytes for IO, and every testdata table
    * is one single-row-group file, so a scan stage there is one task. An
    * operator whose per-row map work is CPU-heavy (codec round-trips,
    * per-shingle digests, the Poisson bootstrap's md5s) then runs that
    * whole pass serially while the other cores idle. The one shuffle of
    * the narrow input buys full-width map work, and the map output it
    * feeds is many times larger than the shuffled rows. Measured:
    * `q_minhash_sig` 3.49 → 0.58 s median at sf0.1; without it the
    * audio decode took 16.7× as long on 10× data; `q_source_overlap`'s
    * 5.7 s sf0.1 median was one serial shingle task.
    *
    * A many-file input is spread too. Passing scans of at least
    * `defaultParallelism` files through unshuffled was measured on
    * ScaleBench's 10-file factor-10 replicas at local[4]: no net gain
    * (the 12 spread scale targets' medians summed 103.3 s spread, 102.9 s
    * passed through), with `q_minhash_sig`, `q_dsir_resample`,
    * `q_lm_score` and `q_bootstrap_ci` 7–16% slower, because 10 file
    * tasks on 4 cores run in 3 uneven waves.
    *
    * Operators opt in by calling this. The gram-explode text queries
    * (`q_ngram_novelty`, `q_repetition`, `q_ngram_repetition`,
    * `q_substring_dupes`) do not: measured with the spread they were
    * 17–47% slower, because the gram explode is not their dominant cost
    * and the keyless repartition adds a sort-before-repartition and a
    * stage.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = raw(spark, dir, name)
    if (name == "events") df.withColumn("ts", ntz(df)) else df
  }
}
