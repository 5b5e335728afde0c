package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftVtCatalog, VersionedTable, ZoneMap}

/** CREATE TABLE / CTAS / DROP TABLE through the parser on the graft_vt
  * catalog: the oracle gate pins q_sql_ctas's end state; this suite
  * pins the lifecycle contracts — empty tables read as zero rows,
  * DROP + re-CREATE starts clean (the catalog wipes only roots it
  * owns), clustered CTAS commits a zone-map sidecar and prunes, DML
  * verbs work on a created table, and PARTITIONED BY fails loudly.
  */
class CtasSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def src(): Unit = {
    GraftVtCatalog.ensure(spark)
    graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .createOrReplaceTempView("ctas_spec_src")
  }

  test("CREATE TABLE starts empty; INSERT fills it; DROP + re-CREATE is clean") {
    src()
    spark.sql("DROP TABLE IF EXISTS graft_vt.ctas_lifecycle")
    spark.sql(
      "CREATE TABLE graft_vt.ctas_lifecycle (doc_id BIGINT, text STRING, source STRING)")
    assert(spark.table("graft_vt.ctas_lifecycle").count() == 0)
    spark.sql(
      "INSERT INTO graft_vt.ctas_lifecycle SELECT * FROM ctas_spec_src WHERE doc_id < 20")
    assert(spark.table("graft_vt.ctas_lifecycle").count() == 20)
    spark.sql("DROP TABLE graft_vt.ctas_lifecycle")
    intercept[Exception] {
      spark.table("graft_vt.ctas_lifecycle").collect()
    }: Unit
    spark.sql(
      "CREATE TABLE graft_vt.ctas_lifecycle (doc_id BIGINT, text STRING, source STRING)")
    assert(spark.table("graft_vt.ctas_lifecycle").count() == 0,
      "re-created table must not resurrect the dropped table's data")
  }

  test("clustered CTAS commits a zone-map sidecar and the scan prunes") {
    src()
    spark.sql("DROP TABLE IF EXISTS graft_vt.ctas_zoned")
    // force a multi-file ordered write so the sidecar has >1 entry
    val s = spark.newSession()
    GraftVtCatalog.ensure(s)
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    graft.sources.Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .createOrReplaceTempView("ctas_spec_src_s")
    s.sql(
      """CREATE TABLE graft_vt.ctas_zoned TBLPROPERTIES ('cluster' = 'doc_id') AS
        |SELECT doc_id, text, source FROM ctas_spec_src_s""".stripMargin)
    val root = GraftVtCatalog.rootOf("ctas_zoned").get
    val v = VersionedTable.latestVersion(root)
    val stats = ZoneMap.read(root, v, "doc_id")
      .getOrElse(fail("clustered CTAS must commit a zone-map sidecar"))
    assert(stats.size >= 2, s"expected a multi-file layout, got ${stats.keySet}")
    spark.sql(
      "SELECT count(*) FROM graft_vt.ctas_zoned WHERE doc_id BETWEEN 5 AND 9").collect(): Unit
    val (all, kept) = graft.sources.ZoneMapScanBuilder.lastPrune
    assert(kept < all, s"a narrow key range must prune ($kept of $all files bound)")
  }

  test("DML verbs work on a CTAS-created table") {
    src()
    spark.sql("DROP TABLE IF EXISTS graft_vt.ctas_dml")
    spark.sql(
      "CREATE TABLE graft_vt.ctas_dml AS SELECT * FROM ctas_spec_src WHERE doc_id < 30")
    spark.sql("UPDATE graft_vt.ctas_dml SET source = 'upd' WHERE doc_id % 2 = 0")
    spark.sql("DELETE FROM graft_vt.ctas_dml WHERE doc_id >= 20")
    val rows = spark.sql(
      "SELECT source, COUNT(*) AS n FROM graft_vt.ctas_dml GROUP BY source ORDER BY source")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows.get("upd").contains(10L), s"got $rows")
    assert(rows.values.sum == 20L)
    // history metadata works on created tables too
    val versions = spark.sql("SELECT version FROM graft_vt.ctas_dml.history")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(versions.nonEmpty && versions.last >= 3)
  }

  test("CREATE OR REPLACE TABLE AS SELECT swaps content atomically for readers") {
    src()
    spark.sql("DROP TABLE IF EXISTS graft_vt.ctas_replace")
    spark.sql(
      "CREATE OR REPLACE TABLE graft_vt.ctas_replace AS SELECT * FROM ctas_spec_src WHERE doc_id < 50")
    assert(spark.table("graft_vt.ctas_replace").count() == 50)
    spark.sql(
      "CREATE OR REPLACE TABLE graft_vt.ctas_replace AS SELECT * FROM ctas_spec_src WHERE doc_id < 20")
    assert(spark.table("graft_vt.ctas_replace").count() == 20,
      "REPLACE must swap to the new definition's content")
    // ATOMICITY: a replacement whose write FAILS mid-flight must leave
    // the old binding fully intact (staged-root swap, never
    // drop-then-create) — ANSI division by zero kills the write
    intercept[Exception](spark.sql(
      """CREATE OR REPLACE TABLE graft_vt.ctas_replace AS
        |SELECT doc_id, 1 / (doc_id - doc_id) AS boom FROM ctas_spec_src""".stripMargin))
    assert(spark.table("graft_vt.ctas_replace").count() == 20,
      "failed REPLACE must leave the previous table untouched")
    assert(spark.table("graft_vt.ctas_replace").columns.toSeq ==
      Seq("doc_id", "text", "source"), "failed REPLACE must keep the old schema")
  }

  test("PARTITIONED BY and duplicate CREATE fail loudly") {
    src()
    spark.sql("DROP TABLE IF EXISTS graft_vt.ctas_guard")
    intercept[Exception] {
      spark.sql(
        """CREATE TABLE graft_vt.ctas_guard PARTITIONED BY (source) AS
          |SELECT * FROM ctas_spec_src""".stripMargin)
    }: Unit
    spark.sql("CREATE TABLE graft_vt.ctas_guard (doc_id BIGINT)")
    intercept[Exception] {
      spark.sql("CREATE TABLE graft_vt.ctas_guard (doc_id BIGINT)")
    }: Unit
    // unknown cluster column rejected at create time, not at first write
    spark.sql("DROP TABLE graft_vt.ctas_guard")
    intercept[Exception] {
      spark.sql(
        "CREATE TABLE graft_vt.ctas_guard (doc_id BIGINT) TBLPROPERTIES ('cluster' = 'nope')")
    }: Unit
  }
}
