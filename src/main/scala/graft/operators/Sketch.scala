package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Count-min sketch as a RELATION — the frequency-sketch complement to
  * the other sketch families (Spark's built-in theta/HLL/KLL, and
  * `graft.functions`' portable HLL and Misra-Gries): a (depth × width)
  * grid of counters that answers point frequency queries with one-sided
  * error (`est ≥ true`, `est ≤ true + ε·N` w.h.p., ε = e/width).
  *
  * The sketch here is d×w ROWS, not an opaque binary blob, which buys
  * three things at scale: (1) the build is one map-side-combined
  * aggregation — counters partial-aggregate before the shuffle exactly
  * like any groupBy, and the shuffled state is ≤ d×w rows no matter how
  * many input rows or distinct keys; (2) merge across corpora/days is
  * `UNION ALL + SUM` by (row, bucket) — the mergeability that makes CMS
  * a streaming/incremental structure; (3) with the hash family built
  * from md5 (double hashing: `h_j = (h1 + j·h2) mod w`), the whole
  * sketch — build AND probe — is reproducible in ANSI SQL, so unlike
  * most sketches this one HASH-MATCHES a DuckDB oracle instead of
  * settling for a rows-only check.
  *
  * Spark's `hash()`/`xxhash64` would be cheaper per row but are not
  * reproducible outside Spark; md5 keeps the oracle exact and costs one
  * digest per input row. h2 is forced odd so the probe sequence cycles
  * through all of a power-of-two width.
  */
object CountMin {

  /** First 8 md5 hex chars → BIGINT, identically computable in DuckDB as
    * `CAST('0x' || substring(md5(k), off, 8) AS BIGINT)`.
    */
  private def md5Int(k: Column, off: Int): Column =
    conv(substring(md5(k.cast("string")), off, 8), 16, 10).cast("long")

  private def bucketOf(k: Column, j: Int, width: Int): Column = {
    val h1 = md5Int(k, 1)
    val h2 = md5Int(k, 9).bitwiseOR(lit(1L))
    ((h1 + lit(j.toLong) * h2) % width).cast("int")
  }

  /** Build the d×w counter relation over `keys` (one count per input
    * row). Output: (row_id, bucket, n) — at most depth×width rows.
    */
  private[graft] def build(keys: DataFrame, depth: Int, width: Int): DataFrame = {
    val k = keys.columns.head
    keys.select(posexplode(array((0 until depth).map(j =>
        bucketOf(col(k), j, width)): _*)))
      .withColumnRenamed("pos", "row_id").withColumnRenamed("col", "bucket")
      .groupBy(col("row_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Point-query the heavy keys: exact top-`topN` user_ids in `events`
    * by event count, each probed against the sketch — `cms_est` is the
    * MIN over the d rows of the probed counter. Output
    * (user_id, exact_n, cms_est) with est ≥ exact always (one-sided
    * error; the spec pins the ε·N bound too). The probe join is
    * broadcast — the sketch side is ≤ d×w rows by construction.
    */
  def heavyKeys(spark: SparkSession, dir: String,
      depth: Int = 4, width: Int = 64, topN: Int = 20): DataFrame = {
    val keys = Tables(spark, dir, "events").select(col("user_id"))
    val sketch = build(keys, depth, width)
    val exact = keys.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id").asc).limit(topN)
    val probes = exact.select(col("user_id"), col("exact_n"),
        posexplode(array((0 until depth).map(j =>
          bucketOf(col("user_id"), j, width)): _*)))
      .withColumnRenamed("pos", "row_id").withColumnRenamed("col", "bucket")
    probes.join(broadcast(sketch), Seq("row_id", "bucket"))
      .groupBy(col("user_id"), col("exact_n"))
      .agg(min(col("n")).as("cms_est"))
      .select(col("user_id"), col("exact_n"), col("cms_est"))
  }
}

/** The portable-HLL query surface — see
  * [[graft.functions.PortableHll]] for the construction and the
  * integer-channel exactness argument.
  */
object HllPortable {

  /** Per-event-type distinct-user estimates from the portable HLL
    * (b = 9 → m = 512 registers, std err ≈ 1.04/√m ≈ 4.6%). One
    * map-side-combined aggregate pass; per-group state is the m-byte
    * register array. Output carries the two integer-channel numbers
    * (`sum_int`, `v_zero`) alongside the rounded estimate, so the
    * oracle hash-match pins the FULL register state, and the estimate
    * formula — written with identical literals and parenthesization in
    * both engines — is pinned on top of it.
    */
  def distinctUsers(spark: SparkSession, dir: String, b: Int = 9): DataFrame = {
    val m = 1 << b
    val scalePow = math.pow(2.0, (60 - b) + 1)
    val alpha = graft.functions.PortableHll.alpha(m)
    val h60 = conv(substring(md5(col("user_id").cast("string").cast("binary")), 1, 15),
      16, 10).cast("long")
    Tables(spark, dir, "events")
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), h60.as("h"))
      .groupBy(col("event_type"))
      .agg(graft.functions.PortableHll.agg(col("h"), b).as("s"))
      .select(col("event_type"), col("s.sum_int").as("sum_int"), col("s.v_zero").as("v_zero"))
      .withColumn("raw",
        lit(alpha) * m * m * lit(scalePow) / col("sum_int"))
      .withColumn("n_est", round(
        when(col("raw") <= lit(2.5 * m) && col("v_zero") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v_zero")))
          .otherwise(col("raw")), 4))
      .select(col("event_type"), col("n_est"), col("sum_int"), col("v_zero"))
  }
}
