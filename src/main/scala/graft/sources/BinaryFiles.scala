package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-media ingestion through Spark's built-in `binaryFile` source —
  * how image/audio/video actually ARRIVES at a pipeline (a bucket of
  * files), upstream of the parquet-resident binary columns the
  * multimodal operators consume. The source yields (path,
  * modificationTime, length, content) per file with the scan
  * parallelized over file splits; the pipeline's first job is exactly
  * this projection: identity from the path, size from file metadata,
  * digest from the bytes.
  *
  * At 100 TB the shape holds: binaryFile lists and partitions files
  * across executors (pathGlobFilter prunes at listing time), each task
  * reads only its files, and nothing touches the driver. The staging
  * below (one .bin file per doc, written executor-side via
  * foreachPartition) is fixture scaffolding standing in for the bucket.
  */
object BinaryFiles {

  // per-JVM stable staging (Roundtrip's pattern): bench reps overwrite
  // instead of accumulating; cleared from the tmpdir at JVM exit
  private[graft] lazy val stageDir: java.io.File =
    Scratch.tmpDir(s"graft_binfiles_${java.util.UUID.randomUUID().toString.take(8)}")

  /** One staging subtree per (corpus, cap): different-cap calls in one
    * JVM (the smoke suites run the default; SourcesSpec runs a small
    * one) must not see each other's files, and neither may two corpora
    * at the same cap — a doc_id present only in the earlier corpus's
    * slice would otherwise survive staging and be re-ingested into the
    * later corpus's result (r7 review).
    */
  private[graft] def stageFor(dir: String, docCap: Int): java.io.File = {
    val corpusKey = java.lang.Integer.toHexString(
      java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString.hashCode)
    new java.io.File(stageDir, s"src${corpusKey}_cap$docCap")
  }

  /** Stage a bounded doc slice as raw files, ingest them back through
    * `binaryFile`, emit (doc_id, n_bytes, sha256) — n_bytes from the
    * source's file-metadata column, sha from the content bytes, doc_id
    * parsed from the path. Equals [[graft.operators.Multimodal.binaryMeta]]
    * over the same slice, which is what the oracle checks.
    */
  def ingestDocs(spark: SparkSession, dir: String, docCap: Int = 100): DataFrame = {
    import spark.implicits._
    val stage = stageFor(dir, docCap)
    stage.mkdirs()
    Tables(spark, dir, "documents")
      .filter(col("doc_id") < docCap)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .foreachPartition { rows: Iterator[(Long, String)] =>
        rows.foreach { case (docId, text) =>
          java.nio.file.Files.write(
            new java.io.File(stage, s"$docId.bin").toPath,
            text.getBytes("UTF-8"))
        }
      }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(stage.getAbsolutePath)
      .select(
        regexp_extract(col("path"), "(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
        col("length").cast("int").as("n_bytes"),
        sha2(col("content"), 256).as("sha256"))
  }
}
