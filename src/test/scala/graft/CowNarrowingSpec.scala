package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftVtCatalog, VersionedTable, ZoneMap}

/** Group-based COW correctness under PUSHABLE predicates, and the
  * file-narrowing that rides on the fix.
  *
  * Spark's GroupBasedRowLevelOperationScanPlanning pushes the DML
  * condition into the row-level scan builder with GROUP semantics; a
  * raw parquet delegate applies it as a ROW filter (row-group
  * skipping), silently dropping the non-matching rows the rewrite must
  * carry — `DELETE WHERE doc_id >= 100` used to erase the whole table.
  * The first two tests are the regression pins for that data loss; the
  * rest pin the narrowing contract: provably-untouched files are
  * retained BY REFERENCE (same path, never rewritten) and only
  * may-match files are replaced.
  */
class CowNarrowingSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def base = graft.sources.Tables(spark, dir, "documents")
    .select(col("doc_id"), col("text"), col("source"))

  /** Unclustered two-file table (no zone maps, no metadata-delete path). */
  private def plainTable(name: String): String = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_cow_$name").toString
    base.filter(col("doc_id") < 100).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/files/lo_v1")
    base.filter(col("doc_id") >= 100).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/files/hi_v1")
    VersionedTable.writeManifest(root, 1, Seq("files/lo_v1", "files/hi_v1"))
    GraftVtCatalog.register(spark, name, root, base.schema)
    root
  }

  test("regression: pushable DELETE predicate must not drop keeper rows") {
    plainTable("cow_del_push")
    val keep = base.filter(col("doc_id") < 100).count()
    spark.sql("DELETE FROM graft_vt.cow_del_push WHERE doc_id >= 100")
    assert(spark.table("graft_vt.cow_del_push").count() == keep,
      "rows not matching the DELETE predicate must survive the rewrite")
  }

  test("regression: pushable UPDATE predicate preserves every row") {
    plainTable("cow_upd_push")
    val total = base.count()
    spark.sql("UPDATE graft_vt.cow_upd_push SET source = 'u' WHERE doc_id >= 100")
    val counts = spark.sql(
      "SELECT source = 'u' AS updated, COUNT(*) AS n FROM graft_vt.cow_upd_push GROUP BY 1")
      .collect().map(r => (r.getBoolean(0), r.getLong(1))).toMap
    assert(counts.values.sum == total)
    assert(counts.get(true).contains(base.filter(col("doc_id") >= 100).count()))
  }

  /** Clustered 4-range-file table with the ANALYZE'd sidecar. */
  private def zonedTable(name: String): String = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_cow_$name").toString
    base.repartitionByRange(4, col("doc_id"))
      .write.mode("overwrite").parquet(s"$root/files/base_v1")
    VersionedTable.writeManifest(root, 1, Seq("files/base_v1"))
    ZoneMap.analyze(spark, root, 1, "doc_id"): Unit
    GraftVtCatalog.register(spark, name, root, base.schema, clusterCol = Some("doc_id"))
    root
  }

  test("narrowed UPDATE retains untouched files by reference and rewrites only may-match files") {
    val root = zonedTable("cow_narrow_upd")
    val v1Files = VersionedTable.manifest(root, 1).flatMap(ZoneMap.leafFiles(root, _))
    assert(v1Files.size >= 3, s"fixture needs several files, got $v1Files")
    val total = base.count()
    spark.sql(
      "UPDATE graft_vt.cow_narrow_upd SET source = 'narrow' WHERE doc_id BETWEEN 10 AND 19")
    val v2 = VersionedTable.latestVersion(root)
    val v2Files = VersionedTable.manifest(root, v2).flatMap(ZoneMap.leafFiles(root, _))
    val retained = v2Files.toSet.intersect(v1Files.toSet)
    val rewritten = v1Files.toSet -- v2Files.toSet
    assert(retained.nonEmpty,
      s"files whose key range can't contain [10,19] must be RETAINED, got none " +
        s"(v1=$v1Files v2=$v2Files)")
    assert(rewritten.size < v1Files.size,
      "a selective key-range UPDATE must not rewrite every file")
    // content intact and exactly the matching rows updated
    assert(spark.table("graft_vt.cow_narrow_upd").count() == total)
    val updated = spark.sql(
      "SELECT COUNT(*) FROM graft_vt.cow_narrow_upd WHERE source = 'narrow'")
      .collect().head.getLong(0)
    assert(updated == base.filter(col("doc_id").between(10, 19)).count())
    // the retained files carried their zone-map entries into the new sidecar
    val stats = ZoneMap.read(root, v2, "doc_id")
      .getOrElse(fail("narrowed commit must keep the sidecar alive"))
    retained.foreach(f => assert(stats.contains(f), s"retained $f lost its zone entry"))
  }

  test("COW DELETE with a half-pushable predicate narrows on the pushable conjunct") {
    val root = zonedTable("cow_narrow_del")
    val v1Files = VersionedTable.manifest(root, 1).flatMap(ZoneMap.leafFiles(root, _))
    // length(text) >= 0 blocks the metadata-only path (undecidable) and
    // blocks full-file drops; doc_id <= 19 is the narrowing conjunct
    spark.sql(
      "DELETE FROM graft_vt.cow_narrow_del WHERE doc_id <= 19 AND length(text) >= 0")
    val v2 = VersionedTable.latestVersion(root)
    val v2Files = VersionedTable.manifest(root, v2).flatMap(ZoneMap.leafFiles(root, _))
    assert(v2Files.toSet.intersect(v1Files.toSet).nonEmpty,
      s"files above the key range must be retained by reference (v1=$v1Files v2=$v2Files)")
    assert(spark.table("graft_vt.cow_narrow_del").count()
      == base.filter(col("doc_id") > 19).count())
  }

  test("differential sweep: stacked range updates through narrowing equal the logical fold") {
    import org.apache.spark.sql.functions.{concat_ws, lit, when}
    val root = zonedTable("cow_sweep")
    // edges on purpose: degenerate single-key ranges, a range past the
    // corpus max, a range straddling zero, and interior ranges that
    // split files — every one narrows differently
    val ranges = Seq((0L, 0L), (37L, 171L), (100L, 100L), (450L, 10000000L), (-5L, 3L))
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      spark.sql(
        s"""UPDATE graft_vt.cow_sweep SET source = 's_$i'
           |WHERE doc_id BETWEEN $lo AND $hi""".stripMargin)
    }
    val expected = ranges.zipWithIndex.foldLeft(
        base.select(col("doc_id"), col("source"))) { case (df, ((lo, hi), i)) =>
        df.select(col("doc_id"),
          when(col("doc_id").between(lo, hi), lit(s"s_$i")).otherwise(col("source"))
            .as("source"))
      }
    val got = spark.sql("SELECT doc_id, source FROM graft_vt.cow_sweep")
    assert(got.count() == base.count())
    val diff = got.select(concat_ws("|", col("doc_id"), col("source")).as("k"))
      .exceptAll(expected.select(concat_ws("|", col("doc_id"), col("source")).as("k")))
    assert(diff.count() == 0,
      s"narrowed updates diverged from the logical fold: ${diff.take(5).toSeq}")
    VersionedTable.manifest(root, graft.sources.VersionedTable.latestVersion(root)): Unit
  }

  test("MERGE + NOT MATCHED BY SOURCE with a target-only ON conjunct deletes beyond any pruned range") {
    // the adversarial shape for file narrowing: if the planner pushed
    // `t.doc_id < 100` into the row-level scan and we pruned the files
    // above it, their rows would be RETAINED — but NMBS semantics
    // demand their deletion (they match no source row). Full-sync
    // correctness is the pin.
    zonedTable("cow_nmbs")
    val src = base.filter(col("doc_id") % 2 === 0 && col("doc_id") < 100)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.upper(col("text")).as("text"),
        org.apache.spark.sql.functions.lit("sync").as("source"))
    src.createOrReplaceTempView("cow_nmbs_src")
    spark.sql(
      """MERGE INTO graft_vt.cow_nmbs t USING cow_nmbs_src s
        |ON t.doc_id = s.doc_id AND t.doc_id < 100
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val after = spark.table("graft_vt.cow_nmbs")
    assert(after.count() == src.count(),
      "after a full-sync MERGE the table must BE the source — rows outside " +
        "the ON range must be deleted, not retained by file pruning")
    assert(after.filter(col("doc_id") >= 100).count() == 0)
  }

  test("MERGE on a narrowed table stays correct (join keys reach every file)") {
    val root = zonedTable("cow_narrow_merge")
    base.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"), org.apache.spark.sql.functions.lit("merged").as("source"))
      .createOrReplaceTempView("cow_narrow_src")
    spark.sql(
      """MERGE INTO graft_vt.cow_narrow_merge t USING cow_narrow_src s
        |ON t.doc_id = s.doc_id
        |WHEN MATCHED THEN UPDATE SET source = s.source
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft_vt.cow_narrow_merge").count() == base.count())
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft_vt.cow_narrow_merge WHERE source = 'merged'")
      .collect().head.getLong(0) == base.filter(col("doc_id") % 50 === 0).count())
    VersionedTable.manifest(root, VersionedTable.latestVersion(root)): Unit
  }
}
