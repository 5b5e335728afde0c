package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the table-maintenance verb every 100 TB
  * deployment runs constantly: streaming sinks, frequent upserts and
  * over-parallel writers leave directories of KB-scale files whose
  * per-file open/footer costs dominate scans and whose count crushes
  * the driver's file index.
  *
  * `compact` sizes the output from the INPUT'S real on-disk bytes
  * (filesystem listing, not optimizer estimates): files = ceil(bytes /
  * targetBytes), then rewrites through a round-robin `repartition(n)` —
  * one shuffle that produces evenly-sized files regardless of how
  * skewed the input file sizes were (a `coalesce` would merely glue
  * neighbors, inheriting the skew and, run wide, starving upstream
  * parallelism). Content is untouched — that's the oracle's check;
  * the file-count/size contract is `CompactionSpec`'s.
  *
  * At cluster scale this parallelizes per table-partition subtree
  * (compact each partition directory independently, skipping subtrees
  * already at target), so the unit of work stays bounded; the
  * size-from-listing + repartition core is exactly this.
  */
object Compaction {

  /** Sum of data-file bytes under `dir` (recursive, dot-files skipped). */
  private[graft] def dataBytes(spark: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith(".") && !f.getPath.getName.startsWith("_"))
        bytes += f.getLen
    }
    bytes
  }

  /** Rewrite the parquet table at `inDir` into `outDir` with file count
    * sized from real input bytes; returns the file count chosen.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L << 20): Int = {
    val n = math.max(1L, (dataBytes(spark, inDir) + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inDir).repartition(n)
      .write.mode("overwrite").parquet(outDir)
    n
  }

  // Stable per-JVM temp base (Roundtrip's pattern): overwrite mode
  // truncates across Bench reps instead of accumulating copies; cleared
  // from the (often tmpfs) tmpdir at JVM exit.
  private lazy val tempBase: String =
    Scratch.tmpDir(s"graft_compact_${java.util.UUID.randomUUID().toString.take(8)}")
      .getAbsolutePath

  /** The oracle query: fragment `events` into many tiny files (the
    * streaming-sink pathology, simulated), compact to a byte target,
    * and aggregate THROUGH the compacted copy — compaction must be
    * invisible to every reader.
    */
  def compactedEvents(spark: SparkSession, dir: String): DataFrame = {
    val fragDir = s"$tempBase/fragmented"
    val outDir = s"$tempBase/compacted"
    Tables(spark, dir, "events").repartition(64).write.mode("overwrite").parquet(fragDir)
    compact(spark, fragDir, outDir, targetBytes = 1L << 20)
    spark.read.parquet(outDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
  }
}
