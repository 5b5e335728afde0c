package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftVtCatalog, VersionedTable}

/** CHECK constraints at the table-format write boundary: the oracle
  * gate (q_check_constraint) proves the accepting path; this suite
  * pins the REJECTING paths — a violating INSERT or UPDATE fails the
  * statement and commits nothing (the table reads back bit-identical,
  * the version does not advance), SQL-standard NULL semantics (only
  * FALSE violates), eager validation of bad constraint text, and the
  * constraint riding a table rename.
  */
class CheckConstraintSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def mk(name: String, check: String): Unit = {
    GraftVtCatalog.ensure(spark)
    spark.sql(s"DROP TABLE IF EXISTS graft_vt.$name")
    spark.sql(
      s"""CREATE TABLE graft_vt.$name (doc_id BIGINT, val BIGINT)
         |TBLPROPERTIES ('check' = '$check')""".stripMargin)
  }

  private def stateOf(name: String): (Int, Long) = {
    val root = GraftVtCatalog.rootOf(name).get
    (VersionedTable.latestVersion(root),
      spark.sql(s"SELECT count(*) FROM graft_vt.$name").collect().head.getLong(0))
  }

  test("a violating INSERT fails the statement and commits nothing") {
    mk("chk_ins", "val >= 0")
    spark.sql("INSERT INTO graft_vt.chk_ins VALUES (1, 10), (2, 20)")
    val before = stateOf("chk_ins")
    val e = intercept[Exception](
      spark.sql("INSERT INTO graft_vt.chk_ins VALUES (3, 30), (4, -1)"))
    assert(e.getMessage != null)
    assert(stateOf("chk_ins") == before,
      "aborted write must not advance the version or change content")
    // the valid prefix row (3, 30) must NOT have leaked in
    assert(spark.sql("SELECT count(*) FROM graft_vt.chk_ins WHERE doc_id = 3")
      .collect().head.getLong(0) == 0)
  }

  test("plain-clustered, bucketed and unit-partitioned writes share one task writer") {
    val layouts = Seq(
      "clustered" -> "TBLPROPERTIES ('cluster' = 'doc_id', 'check' = 'val >= 0')",
      "bucketed" -> "PARTITIONED BY (bucket(4, doc_id)) TBLPROPERTIES ('check' = 'val >= 0')",
      "unit" -> "")
    layouts.foreach { case (layout, ddl) =>
      val name = s"chk_layout_$layout"
      GraftVtCatalog.ensure(spark)
      spark.sql(s"DROP TABLE IF EXISTS graft_vt.$name")
      spark.sql(s"CREATE TABLE graft_vt.$name (doc_id BIGINT, val BIGINT) $ddl")
      val root = GraftVtCatalog.rootOf(name).get
      if (layout == "unit") {
        GraftVtCatalog.registerPartitioned(spark, name, root,
          spark.table(s"graft_vt.$name").schema, "doc_id", 10L)
        GraftVtCatalog.registerCheck(name, "val >= 0")
      }
      // a violating row fails its task and commits no version
      val before = stateOf(name)
      intercept[Exception](spark.sql(s"INSERT INTO graft_vt.$name VALUES (1, 1), (2, -1)"))
      assert(stateOf(name) == before, s"$layout: a violating INSERT must commit nothing")
      // 3 rows planned over 16 partitions: most tasks see no row and
      // must write no file; every file the write left is named and non-empty
      spark.range(3).selectExpr("id * 7 AS doc_id", "id AS val").repartition(16)
        .createOrReplaceTempView(s"${name}_src")
      spark.sql(s"INSERT INTO graft_vt.$name SELECT * FROM ${name}_src")
      assert(stateOf(name) == (before._1 + 1, 3L), layout)
      assert(VersionedTable.orphans(root).isEmpty, s"$layout: orphan groups")
      val leaves = VersionedTable.manifest(root, VersionedTable.latestVersion(root))
        .flatMap(graft.sources.ZoneMap.leafFiles(root, _))
      assert(leaves.nonEmpty, layout)
      leaves.foreach { f =>
        assert(spark.read.parquet(s"$root/$f").count() > 0, s"$layout: zero-row file $f")
      }
      val onDisk = scala.util.Using.resource(
          java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/files"))) {
        _.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(p => java.nio.file.Paths.get(root).relativize(p).toString).toSet
      }
      assert(onDisk == leaves.toSet, s"$layout: unnamed files ${onDisk -- leaves}")
    }
  }

  test("a violating UPDATE fails and the table reads back unchanged") {
    mk("chk_upd", "val >= 0")
    spark.sql("INSERT INTO graft_vt.chk_upd VALUES (1, 10), (2, 20)")
    val before = spark.sql(
      "SELECT doc_id, val FROM graft_vt.chk_upd ORDER BY doc_id").collect().toSeq
    intercept[Exception](
      spark.sql("UPDATE graft_vt.chk_upd SET val = val - 100 WHERE doc_id = 2"))
    val after = spark.sql(
      "SELECT doc_id, val FROM graft_vt.chk_upd ORDER BY doc_id").collect().toSeq
    assert(after == before)
  }

  test("NULL evaluates as passing (SQL-standard CHECK semantics)") {
    mk("chk_null", "val >= 0")
    spark.sql("INSERT INTO graft_vt.chk_null VALUES (1, NULL), (2, 5)")
    assert(stateOf("chk_null")._2 == 2)
  }

  test("bad constraint text fails the CREATE, not the first INSERT") {
    GraftVtCatalog.ensure(spark)
    spark.sql("DROP TABLE IF EXISTS graft_vt.chk_bad")
    val e = intercept[Exception](spark.sql(
      """CREATE TABLE graft_vt.chk_bad (doc_id BIGINT)
        |TBLPROPERTIES ('check' = 'no_such_col > 0')""".stripMargin))
    assert(e.getMessage != null)
    // a non-boolean expression is rejected too
    spark.sql("DROP TABLE IF EXISTS graft_vt.chk_bad2")
    intercept[Exception](spark.sql(
      """CREATE TABLE graft_vt.chk_bad2 (doc_id BIGINT)
        |TBLPROPERTIES ('check' = 'doc_id + 1')""".stripMargin))
  }

  test("DESCRIBE EXTENDED / SHOW TBLPROPERTIES surface the layout and contract") {
    mk("chk_props", "val >= 0")
    val props = spark.sql("SHOW TBLPROPERTIES graft_vt.chk_props")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("format").contains("graft_vt"))
    assert(props.get("check").contains("val >= 0"))
    assert(props.get("current_version").contains("1"))
  }

  test("the constraint rides a table rename") {
    mk("chk_rn_a", "val >= 0")
    spark.sql("DROP TABLE IF EXISTS graft_vt.chk_rn_b")
    spark.sql("ALTER TABLE graft_vt.chk_rn_a RENAME TO graft_vt.chk_rn_b")
    intercept[Exception](
      spark.sql("INSERT INTO graft_vt.chk_rn_b VALUES (1, -5)"))
    assert(stateOf("chk_rn_b")._2 == 0)
  }

  test("a failed CREATE leaves the name free; DROP clears every mode") {
    GraftVtCatalog.ensure(spark)
    spark.sql("DROP TABLE IF EXISTS graft_vt.chk_free")
    intercept[Exception](spark.sql(
      """CREATE TABLE graft_vt.chk_free (doc_id BIGINT)
        |TBLPROPERTIES ('check' = 'nope > 0')""".stripMargin))
    // the bad CREATE must not have taken the name
    spark.sql("CREATE TABLE graft_vt.chk_free (doc_id BIGINT, val BIGINT)")
    spark.sql("INSERT INTO graft_vt.chk_free VALUES (1, -999)") // no contract
    assert(stateOf("chk_free")._2 == 1)
    // DROP clears the modes: a constrained table's name, dropped and
    // re-bound by RENAME, must not inherit the old CHECK
    mk("chk_stale", "val >= 0")
    spark.sql("DROP TABLE graft_vt.chk_stale")
    spark.sql("DROP TABLE IF EXISTS graft_vt.chk_plain")
    spark.sql("CREATE TABLE graft_vt.chk_plain (doc_id BIGINT, val BIGINT)")
    spark.sql("ALTER TABLE graft_vt.chk_plain RENAME TO graft_vt.chk_stale")
    spark.sql("INSERT INTO graft_vt.chk_stale VALUES (1, -5)") // would violate the stale check
    assert(stateOf("chk_stale")._2 == 1)
  }

  test("an ALTER that would orphan the constraint is rejected") {
    mk("chk_alter", "val >= 0")
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft_vt.chk_alter RENAME COLUMN val TO amount"))
    assert(e.getMessage.contains("CHECK constraint"))
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE graft_vt.chk_alter DROP COLUMN val"))
    assert(e2.getMessage.contains("CHECK constraint"))
    // the table still writes under the intact contract
    spark.sql("INSERT INTO graft_vt.chk_alter VALUES (1, 5)")
    assert(stateOf("chk_alter")._2 == 1)
  }

  test("cross-column contracts hold through the COW rewrite (gate twin)") {
    val out = graft.operators.SqlDml.sqlCheckConstraint(spark, dir).collect()
    val exp = graft.sources.Tables(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 0).count()
    assert(out.length.toLong == exp)
    // and a contract-breaking UPDATE on the same table is rejected
    intercept[Exception](
      spark.sql("UPDATE graft_vt.dml_checked SET n_chars = -1 WHERE doc_id = 0"))
  }

  test("a named constraint can still be dropped after a table rename") {
    GraftVtCatalog.ensure(spark)
    Seq("chk_nm_a", "chk_nm_b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft_vt.$t"))
    spark.sql("CREATE TABLE graft_vt.chk_nm_a (doc_id BIGINT, val BIGINT)")
    spark.sql("ALTER TABLE graft_vt.chk_nm_a ADD CONSTRAINT pos CHECK (val >= 0)")
    spark.sql("ALTER TABLE graft_vt.chk_nm_a RENAME TO graft_vt.chk_nm_b")
    intercept[Exception](spark.sql("INSERT INTO graft_vt.chk_nm_b VALUES (1, -5)"))
    spark.sql("ALTER TABLE graft_vt.chk_nm_b DROP CONSTRAINT pos")
    spark.sql("INSERT INTO graft_vt.chk_nm_b VALUES (1, -5)")
    assert(stateOf("chk_nm_b")._2 == 1)
  }

  test("a re-register drops the constraint name with the constraint") {
    GraftVtCatalog.ensure(spark)
    spark.sql("DROP TABLE IF EXISTS graft_vt.chk_rereg")
    spark.sql("CREATE TABLE graft_vt.chk_rereg (doc_id BIGINT, val BIGINT)")
    spark.sql("ALTER TABLE graft_vt.chk_rereg ADD CONSTRAINT pos CHECK (val >= 0)")
    GraftVtCatalog.register(spark, "chk_rereg", GraftVtCatalog.rootOf("chk_rereg").get,
      spark.table("graft_vt.chk_rereg").schema)
    GraftVtCatalog.registerCheck("chk_rereg", "val < 100")
    // the new check has no name: `pos` names nothing any more
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft_vt.chk_rereg DROP CONSTRAINT pos"))
    assert(e.getMessage.contains("no such constraint"))
    intercept[Exception](spark.sql("INSERT INTO graft_vt.chk_rereg VALUES (1, 500)"))
    assert(stateOf("chk_rereg")._2 == 0)
  }
}
