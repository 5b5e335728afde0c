package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftVtCatalog, VersionedTable, VtBranch}

/** Branch + rollback lifecycle on the graft_vt format: the oracle gate
  * pins q_branch_merge / q_rollback end states; this suite pins the
  * contracts the end states can't show — main-line ISOLATION while a
  * branch holds commits, the fast-forward precondition (moved main =
  * loud failure, nothing merged), vacuum pinning of branch-referenced
  * groups, CHECK enforcement on branch writers, drop/garbage-collect
  * economics, and rollback's history preservation.
  */
class BranchSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  /** Fresh single-version table over a small corpus slice. */
  private def mkTable(name: String): String = {
    GraftVtCatalog.ensure(spark)
    spark.sql(s"DROP TABLE IF EXISTS graft_vt.$name")
    graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") < 60)
      .createOrReplaceTempView("branch_spec_src")
    spark.sql(
      s"CREATE TABLE graft_vt.$name AS SELECT * FROM branch_spec_src")
    GraftVtCatalog.rootOf(name).get
  }

  test("branch isolation: main never sees branch commits; VERSION AS OF reads the branch") {
    val name = "br_iso"
    mkTable(name)
    val mainN = spark.table(s"graft_vt.$name").count()
    spark.sql(s"CALL graft_vt.create_branch('$name', 'dev')")
    spark.sql(
      s"""INSERT INTO graft_vt.$name.branch_dev
         |SELECT doc_id + 1000, text, 'staged' FROM branch_spec_src WHERE doc_id < 10""".stripMargin)
    assert(spark.table(s"graft_vt.$name").count() == mainN,
      "main must not see branch commits")
    assert(spark.table(s"graft_vt.$name.branch_dev").count() == mainN + 10)
    assert(spark.sql(s"SELECT * FROM graft_vt.$name VERSION AS OF 'dev'").count()
      == mainN + 10, "VERSION AS OF '<branch>' must read the branch head")
    spark.sql(s"CALL graft_vt.drop_branch('$name', 'dev')")
  }

  test("fast-forward promotes all commits; a moved main fails loudly and merges nothing") {
    val name = "br_ff"
    val root = mkTable(name)
    spark.sql(s"CALL graft_vt.create_branch('$name', 'dev')")
    spark.sql(
      s"""INSERT INTO graft_vt.$name.branch_dev
         |SELECT doc_id + 1000, text, 'b1' FROM branch_spec_src WHERE doc_id < 5""".stripMargin)
    spark.sql(
      s"""INSERT INTO graft_vt.$name.branch_dev
         |SELECT doc_id + 2000, text, 'b2' FROM branch_spec_src WHERE doc_id < 3""".stripMargin)
    val before = graft.sources.VersionedTable.latestVersion(root)
    val r = spark.sql(s"CALL graft_vt.fast_forward('$name', 'dev')").collect().head
    assert(r.getInt(0) == before + 2 && r.getInt(1) == 2)
    assert(spark.table(s"graft_vt.$name").count() == 60 + 5 + 3)
    assert(!VtBranch.exists(root, "dev"), "fast-forward consumes the branch")
    // each promoted version is an ordinary readable main version
    assert(spark.sql(s"SELECT * FROM graft_vt.$name VERSION AS OF ${before + 1}")
      .count() == 60 + 5)

    // moved main: fork, commit to MAIN, then try to fast-forward
    spark.sql(s"CALL graft_vt.create_branch('$name', 'dev2')")
    spark.sql(
      s"""INSERT INTO graft_vt.$name.branch_dev2
         |SELECT doc_id + 3000, text, 'b3' FROM branch_spec_src WHERE doc_id < 2""".stripMargin)
    spark.sql(
      s"""INSERT INTO graft_vt.$name
         |SELECT doc_id + 4000, text, 'main-moved' FROM branch_spec_src WHERE doc_id < 1""".stripMargin)
    val mainN = spark.table(s"graft_vt.$name").count()
    val e = intercept[Exception] {
      spark.sql(s"CALL graft_vt.fast_forward('$name', 'dev2')").collect()
    }
    assert(e.getMessage.contains("rebase"), s"wanted the rebase error, got: ${e.getMessage}")
    assert(spark.table(s"graft_vt.$name").count() == mainN,
      "a failed fast-forward must merge nothing")
    spark.sql(s"CALL graft_vt.drop_branch('$name', 'dev2')")
  }

  test("vacuum never collects groups a live branch references; drop releases them") {
    val name = "br_vac"
    val root = mkTable(name)
    spark.sql(s"CALL graft_vt.create_branch('$name', 'keepme')")
    spark.sql(
      s"""INSERT INTO graft_vt.$name.branch_keepme
         |SELECT doc_id + 1000, text, 'staged' FROM branch_spec_src WHERE doc_id < 10""".stripMargin)
    // push main forward so retention has something to do, then vacuum
    spark.sql(
      s"""INSERT INTO graft_vt.$name
         |SELECT doc_id + 5000, text, 'main2' FROM branch_spec_src WHERE doc_id < 1""".stripMargin)
    spark.sql(s"CALL graft_vt.vacuum('$name', 1)")
    // the branch must still read completely — its groups were pinned
    assert(spark.table(s"graft_vt.$name.branch_keepme").count() == 70,
      "vacuum must not collect branch-referenced groups")
    // dropping the branch releases its exclusive group to the next vacuum
    val branchGroups = VtBranch.entries(root, "keepme")
      .map(_.split("/").take(2).mkString("/")).distinct
    spark.sql(s"CALL graft_vt.drop_branch('$name', 'keepme')")
    val deleted = VersionedTable.vacuum(root,
      Seq(graft.sources.VersionedTable.latestVersion(root)))
    assert(branchGroups.exists(deleted.contains),
      s"drop + vacuum must collect the branch-only group (deleted: $deleted)")
  }

  test("CHECK constraints bind branch writers like main writers") {
    val name = "br_check"
    mkTable(name)
    GraftVtCatalog.registerCheck(name, "doc_id >= 0")
    spark.sql(s"CALL graft_vt.create_branch('$name', 'dev')")
    intercept[Exception] {
      spark.sql(
        s"""INSERT INTO graft_vt.$name.branch_dev
           |SELECT -doc_id - 1, text, 'bad' FROM branch_spec_src WHERE doc_id < 3""".stripMargin)
    }: Unit
    assert(spark.table(s"graft_vt.$name.branch_dev").count() == 60,
      "a CHECK-failing branch write must not advance the branch head")
    spark.sql(s"CALL graft_vt.drop_branch('$name', 'dev')")
  }

  test("branches are refused on bucketed tables; supported on MOR") {
    GraftVtCatalog.ensure(spark)
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source")).filter(col("doc_id") < 20)
    val morRoot = VersionedTable.freshRoot(s"$dir#branchspec_mor")
    graft.sources.VtMor.createVersion1(spark, morRoot, docs)
    GraftVtCatalog.registerMor(spark, "br_mor", morRoot, docs.schema, "doc_id")
    spark.sql("CALL graft_vt.create_branch('br_mor', 'dev')").collect()
    assert(spark.table("graft_vt.br_mor.branch_dev").count() === docs.count())
    // plain INSERT on a MOR branch keeps main's refusal (no sequences)
    val e = intercept[Exception] {
      spark.sql(
        "INSERT INTO graft_vt.br_mor.branch_dev VALUES (999, 'x', 'y')").collect()
    }
    assert(e.getMessage.contains("use MERGE"))
    spark.sql("CALL graft_vt.drop_branch('br_mor', 'dev')").collect(): Unit
  }

  test("MOR branch: tombstones stay branch-local; fast-forward promotes them") {
    GraftVtCatalog.ensure(spark)
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source")).filter(col("doc_id") < 60)
    val morRoot = VersionedTable.freshRoot(s"$dir#branchspec_morff")
    graft.sources.VtMor.createVersion1(spark, morRoot, docs)
    val keyedSchema = org.apache.spark.sql.types.StructType(docs.schema.fields.map(f =>
      if (f.name == "doc_id") f.copy(nullable = false) else f))
    GraftVtCatalog.registerMor(spark, "br_morff", morRoot, keyedSchema, "doc_id")
    val n0 = docs.count()
    spark.sql("CALL graft_vt.create_branch('br_morff', 'edit')").collect()
    // DELETE on the branch: pure tombstones on the branch meta line
    spark.sql("DELETE FROM graft_vt.br_morff.branch_edit WHERE doc_id % 4 = 2")
    val deleted = docs.filter(col("doc_id") % 4 === 2).count()
    assert(spark.table("graft_vt.br_morff.branch_edit").count() === n0 - deleted,
      "the branch read must merge its own tombstones")
    assert(spark.table("graft_vt.br_morff").count() === n0,
      "branch tombstones must not leak into main reads")
    // UPDATE on the branch: tombstone+replacement pairs, still isolated
    spark.sql(
      "UPDATE graft_vt.br_morff.branch_edit SET source = 'edited' WHERE doc_id % 4 = 1")
    assert(spark.table("graft_vt.br_morff")
      .filter(col("source") === "edited").count() === 0)
    spark.sql("CALL graft_vt.fast_forward('br_morff', 'edit')").collect()
    val main = spark.table("graft_vt.br_morff")
    assert(main.count() === n0 - deleted,
      "fast-forward must carry the branch's tombstones onto main")
    assert(main.filter(col("source") === "edited").count() ===
      docs.filter(col("doc_id") % 4 === 1).count())
    // branch sidecar files are gone with the ref
    val leftovers = Option(new java.io.File(morRoot).list()).get
      .filter(n => n.startsWith("_mor_b_") || n.startsWith("_manifest_b_"))
    assert(leftovers.isEmpty, s"drop must clean branch sidecars: ${leftovers.toSeq}")
  }

  test("MOR branch commit losing the CREATE_NEW race aborts its data files") {
    GraftVtCatalog.ensure(spark)
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source")).filter(col("doc_id") < 40)
    val morRoot = VersionedTable.freshRoot(s"$dir#branchspec_morrace")
    graft.sources.VtMor.createVersion1(spark, morRoot, docs)
    val keyedSchema = org.apache.spark.sql.types.StructType(docs.schema.fields.map(f =>
      if (f.name == "doc_id") f.copy(nullable = false) else f))
    GraftVtCatalog.registerMor(spark, "br_morrace", morRoot, keyedSchema, "doc_id")
    spark.sql("CALL graft_vt.create_branch('br_morrace', 'race')").collect()
    // simulate the narrow race: a concurrent winner has claimed head-1's
    // manifest but the ref hasn't advanced yet — the commit-time ref
    // precheck passes, then commitEntries' CREATE_NEW loses
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$morRoot/_manifest_b_race_v1.txt"), "")
    intercept[Exception] {
      spark.sql(
        "UPDATE graft_vt.br_morrace.branch_race SET source = 'x' WHERE doc_id % 3 = 0")
    }
    // the loser must clean up its replacement data files — otherwise
    // they sit orphaned in a group dir no vacuum can ever collect
    val groupDir = new java.io.File(s"$morRoot/files/delta_b_race_v1")
    val leftovers = Option(groupDir.list())
      .map(_.toSeq.filter(_.endsWith(".parquet"))).getOrElse(Nil)
    assert(leftovers.isEmpty, s"race loser must abort its data files: $leftovers")
    spark.sql("CALL graft_vt.drop_branch('br_morrace', 'race')").collect(): Unit
  }

  test("rollback restores an older file list as a NEW head; history survives") {
    val name = "br_rb"
    val root = mkTable(name)
    val v1 = graft.sources.VersionedTable.latestVersion(root)
    spark.sql(s"DELETE FROM graft_vt.$name WHERE doc_id % 2 = 0")
    val afterDelete = spark.table(s"graft_vt.$name").count()
    assert(afterDelete < 60)
    val r = spark.sql(s"CALL graft_vt.rollback('$name', $v1)").collect().head
    assert(r.getInt(0) == v1 && r.getInt(1) == v1 + 2)
    assert(spark.table(s"graft_vt.$name").count() == 60)
    // history preserved: the rolled-back DELETE state is still queryable
    assert(spark.sql(s"SELECT * FROM graft_vt.$name VERSION AS OF ${v1 + 1}")
      .count() == afterDelete)
    // a rollback target outside retention fails loudly
    val e = intercept[Exception] {
      spark.sql(s"CALL graft_vt.rollback('$name', 99)").collect()
    }
    assert(e.getMessage.contains("not retained"))
  }

  test("UPDATE and DELETE on a branch: isolated from main, promoted by fast-forward") {
    val name = "br_dml"
    mkTable(name)
    spark.sql(s"CALL graft_vt.create_branch('$name', 'edit')")
    spark.sql(
      s"""UPDATE graft_vt.$name.branch_edit
         |SET source = 'edited' WHERE doc_id % 3 = 0""".stripMargin)
    spark.sql(s"DELETE FROM graft_vt.$name.branch_edit WHERE doc_id % 4 = 1")
    // two branch commits; main untouched
    assert(spark.table(s"graft_vt.$name").filter(col("source") === "edited").count() == 0,
      "main must not see the branch UPDATE")
    assert(spark.table(s"graft_vt.$name").count() == 60,
      "main must not see the branch DELETE")
    val expected = (0L until 60L).filterNot(_ % 4 == 1)
    val br = spark.table(s"graft_vt.$name.branch_edit")
    assert(br.count() == expected.length)
    assert(br.filter(col("source") === "edited").count() ==
      expected.count(_ % 3 == 0))
    val r = spark.sql(s"CALL graft_vt.fast_forward('$name', 'edit')").collect().head
    assert(r.getInt(1) == 2, "UPDATE and DELETE = two promoted commits")
    assert(spark.table(s"graft_vt.$name").count() == expected.length)
    // the intermediate branch state (post-UPDATE, pre-DELETE) is now an
    // ordinary main version
    assert(spark.sql(s"SELECT * FROM graft_vt.$name VERSION AS OF ${r.getInt(0) - 1}")
      .filter(col("source") === "edited").count() == 20)
  }

  test("branch refs survive table RENAME (state lives in the root)") {
    val name = "br_ren"
    mkTable(name)
    spark.sql(s"DROP TABLE IF EXISTS graft_vt.br_ren2")
    spark.sql(s"CALL graft_vt.create_branch('$name', 'dev')")
    spark.sql(
      s"""INSERT INTO graft_vt.$name.branch_dev
         |SELECT doc_id + 1000, text, 'staged' FROM branch_spec_src WHERE doc_id < 4""".stripMargin)
    spark.sql(s"ALTER TABLE graft_vt.$name RENAME TO br_ren2")
    assert(spark.table("graft_vt.br_ren2.branch_dev").count() == 64,
      "branches must follow the table through RENAME")
    val r = spark.sql("CALL graft_vt.fast_forward('br_ren2', 'dev')").collect().head
    assert(r.getInt(1) == 1)
    assert(spark.table("graft_vt.br_ren2").count() == 64)
    spark.sql("DROP TABLE graft_vt.br_ren2")
  }
}
