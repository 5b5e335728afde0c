package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SqlDml
import graft.sources.{GraftVtCatalog, VersionedTable, VtMor}

/** Merge-on-read physical contract: the oracle gate proves MOR results
  * equal the logical recompute; this suite pins WHAT WAS WRITTEN —
  * deletes must cost tombstones (no data IO), updates must cost only
  * the touched rows, compaction must fold tombstones away losslessly,
  * and the force-read key column must not leak into pruned projections.
  */
class MorSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def dataFiles(root: String): Seq[String] =
    Option(new java.io.File(s"$root/files").listFiles()).getOrElse(Array.empty)
      .toSeq.flatMap(g => Option(g.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".parquet")).map(_.getName)

  test("MOR DELETE writes tombstones only — zero data files") {
    SqlDml.sqlDeleteMor(spark, dir).count(): Unit
    val root = GraftVtCatalog.rootOf("mor_delete").get
    val v = VersionedTable.latestVersion(root)
    assert(v >= 2, "the DELETE must commit a version")
    val meta = VtMor.readMeta(root, v).get
    assert(meta.tombs.nonEmpty, "DELETE must write tombstones")
    // every data file on disk belongs to the base group: the delete
    // wrote none (delta groups exist only as empty dirs, cleaned or not)
    val extra = dataFiles(root).filterNot(f =>
      VtMor.readMeta(root, 1).exists(_.files.keySet.exists(_.endsWith(f)))
        || meta.files.keySet.exists(k => k.endsWith(f) && meta.files(k) == 1))
    assert(extra.isEmpty, s"MOR delete must write no data files, got $extra")
    // and the tombstone count is exactly the matched-row count
    val matched = graft.sources.Tables(spark, dir, "documents")
      .filter("doc_id % 3 = 0 AND length(text) > 50").count()
    assert(meta.tombMap.size == matched)
  }

  test("MOR UPDATE writes only the touched rows") {
    SqlDml.sqlUpdateMor(spark, dir).count(): Unit
    val root = GraftVtCatalog.rootOf("mor_update").get
    val v = VersionedTable.latestVersion(root)
    val meta = VtMor.readMeta(root, v).get
    val touched = graft.sources.Tables(spark, dir, "documents")
      .filter("doc_id % 5 = 0").count()
    // rows across all delta files of the latest version == touched rows
    val deltaFiles = meta.files.collect { case (f, s) if s == v => f }.toSeq
    if (deltaFiles.nonEmpty) {
      val written = spark.read.parquet(deltaFiles.map(f => s"$root/$f"): _*).count()
      assert(written == touched,
        s"update must write exactly the touched rows: $written vs $touched")
    }
    assert(meta.tombMap.size >= touched)
  }

  test("compaction folds tombstones away and preserves the logical rows") {
    SqlDml.sqlUpdateMor(spark, dir).count(): Unit
    val before = spark.sql(
      "SELECT doc_id, source, md5(CAST(text AS BINARY)) AS d FROM graft_vt.mor_update")
      .collect().map(_.toString).sorted
    val v = VtMor.compact(spark, "mor_update")
    val meta = VtMor.readMeta(GraftVtCatalog.rootOf("mor_update").get, v).get
    assert(meta.tombs.isEmpty, "compaction must clear the tombstone set")
    val after = spark.sql(
      "SELECT doc_id, source, md5(CAST(text AS BINARY)) AS d FROM graft_vt.mor_update")
      .collect().map(_.toString).sorted
    assert(after.sameElements(before), "compaction must not change logical rows")
  }

  test("pruned projection without the key column stays correct") {
    SqlDml.sqlDeleteMor(spark, dir).count(): Unit
    val viaMor = spark.sql(
      "SELECT source, count(*) AS n FROM graft_vt.mor_delete GROUP BY source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = graft.sources.Tables(spark, dir, "documents")
      .filter("NOT (doc_id % 3 = 0 AND length(text) > 50)")
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaMor == expected)
  }
}
