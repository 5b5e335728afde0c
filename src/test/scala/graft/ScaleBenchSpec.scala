package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the scale-harness properties the 100× numbers in BASELINE.md
  * depend on: replicas must stay DISTINCT past the old collapse
  * boundaries (factor 26 for documents' substitution cipher, factor 64
  * = dim for embeddings' circular shift), and the ready-marker must be
  * exclusive per work dir so switching factors regenerates instead of
  * silently timing the other factor's tables.
  */
class ScaleBenchSpec extends AnyFunSuite {
  private def freshDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft-scalebench-spec-").toFile
    d.deleteOnExit(); d
  }

  test("replication decorrelates documents and embeddings past the old collapse boundaries") {
    val spark = TestSpark.spark
    val out = freshDir()
    // 66 > 26 (cipher period of the old Caesar scheme) and > 64 (the
    // embedding dim, the old shift period) — both old schemes emit
    // byte-identical replicas at this factor
    val factor = 66
    ScaleBench.replicate(spark, TestSpark.sf0001, out.getAbsolutePath, factor)

    val baseDocs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet").count()
    val docs = spark.read.parquet(s"${out.getAbsolutePath}/documents.parquet")
    assert(docs.count() == baseDocs * factor)
    // every replica's text decorrelates: as many distinct texts as rows
    // (the base corpus has no exact dups, so any cross-replica collision
    // would show up as distinct < total)
    val docDistinct = docs.agg(countDistinct(col("text"))).collect()(0).getLong(0)
    assert(docDistinct == baseDocs * factor,
      s"document replicas collapsed: $docDistinct distinct of ${baseDocs * factor}")

    val baseEmb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet").count()
    val emb = spark.read.parquet(s"${out.getAbsolutePath}/embeddings.parquet")
    val embDistinct = emb.agg(countDistinct(col("embedding").cast("string")))
      .collect()(0).getLong(0)
    assert(embDistinct == baseEmb * factor,
      s"embedding replicas collapsed: $embDistinct distinct of ${baseEmb * factor}")
    // the sign-flip diagonal must preserve norms (orthogonal transform):
    // the set of vector norms per replica equals the base set
    val baseNorm = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select(round(aggregate(col("embedding"), lit(0.0d),
        (a, x) => a + x * x), 4).as("n2"))
      .groupBy("n2").count().collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val repNorm = emb
      .select(round(aggregate(col("embedding"), lit(0.0d),
        (a, x) => a + x * x), 4).as("n2"))
      .groupBy("n2").count().collect().map(r => r.getDouble(0) -> r.getLong(1) / factor).toMap
    assert(repNorm == baseNorm, "replication changed vector norms — transform not orthogonal")
  }

  test("ready markers are exclusive: switching factors regenerates the tables") {
    val spark = TestSpark.spark
    val out = freshDir()
    ScaleBench.replicate(spark, TestSpark.sf0001, out.getAbsolutePath, 2)
    val base = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet").count()
    assert(spark.read.parquet(s"${out.getAbsolutePath}/documents.parquet").count() == base * 2)
    // a different factor must regenerate (the old per-factor markers let
    // this call return early against the factor-2 tables)
    ScaleBench.replicate(spark, TestSpark.sf0001, out.getAbsolutePath, 3)
    assert(spark.read.parquet(s"${out.getAbsolutePath}/documents.parquet").count() == base * 3)
    val markers = Option(out.listFiles()).get
      .map(_.getName).filter(_.startsWith("_SCALE_READY")).toSeq
    assert(markers == Seq("_SCALE_READY_v5_3"), s"markers: $markers")
    // and the same factor is still idempotent: a third call with factor 3
    // must return via the marker (mtime of the parquet dir unchanged)
    val before = new java.io.File(out, "documents.parquet").lastModified()
    ScaleBench.replicate(spark, TestSpark.sf0001, out.getAbsolutePath, 3)
    assert(new java.io.File(out, "documents.parquet").lastModified() == before)
  }

  test("replication refuses factors beyond the cipher's distinctness bound") {
    val out = freshDir()
    val e = intercept[IllegalArgumentException] {
      ScaleBench.replicate(TestSpark.spark, TestSpark.sf0001, out.getAbsolutePath, 313)
    }
    assert(e.getMessage.contains("312"))
  }
}
