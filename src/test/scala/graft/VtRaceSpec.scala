package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftVtCatalog, GraftVtCommitMessage, VtBranch, VtFile}

/** Same-branch two-writer commit races (VERDICT r13 #7). BranchSpec pins
  * the NARROW race (rival claimed the manifest, ref not yet advanced —
  * CREATE_NEW loses); this suite pins the WIDE one: the rival fully won
  * (manifest + ref) between the loser's plan and commit. A rewrite that
  * planned against head v must then fail LOUDLY — before r14 the COW
  * branch path re-read the ref at commit time and would have landed the
  * stale rewrite silently as head v+2, resurrecting rows the winner
  * replaced (lost update). Exactly one winner, a loud loser, clean
  * abort, across both COW and MOR paths; appends stay lenient
  * (order-commutative, Iceberg-style).
  */
class VtRaceSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def mkCow(name: String): String = {
    GraftVtCatalog.ensure(spark)
    spark.sql(s"DROP TABLE IF EXISTS graft_vt.$name")
    graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") < 40)
      .createOrReplaceTempView("race_spec_src")
    spark.sql(s"CREATE TABLE graft_vt.$name AS SELECT * FROM race_spec_src")
    GraftVtCatalog.rootOf(name).get
  }

  test("a metadata-only DELETE or TRUNCATE racing a commit never overwrites it") {
    // drive the aligned DELETE at its race point: the plan read version
    // N, a rival committed N+1 before the commit — the commit must
    // raise the conflict every writer raises and leave the rival's
    // manifest as it was
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsDelete, TableCatalog}
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
    val name = "dml_meta_race"
    GraftVtCatalog.ensure(spark)
    spark.sql(s"DROP TABLE IF EXISTS graft_vt.$name")
    spark.sql(s"CREATE TABLE graft_vt.$name (doc_id BIGINT, val BIGINT) " +
      "TBLPROPERTIES ('cluster' = 'doc_id')")
    spark.sql(s"INSERT INTO graft_vt.$name VALUES (1, 1), (2, 2)")
    spark.sql(s"INSERT INTO graft_vt.$name VALUES (100, 1), (101, 2)")
    val root = GraftVtCatalog.rootOf(name).get
    val table = spark.sessionState.catalogManager.catalog("graft_vt")
      .asInstanceOf[TableCatalog].loadTable(Identifier.of(Array.empty[String], name))
      .asInstanceOf[SupportsDelete]
    val filters = Array[Filter](GreaterThanOrEqual("doc_id", 100L))
    assert(table.canDeleteWhere(filters), "the aligned delete must be metadata-only")
    val v = graft.sources.VersionedTable.latestVersion(root)
    val rival = graft.sources.VersionedTable.manifestFile(root, v + 1).toPath
    java.nio.file.Files.writeString(rival, "files/rival")
    val e = intercept[java.util.ConcurrentModificationException](table.deleteWhere(filters))
    assert(e.getMessage.contains("commit conflict"), e.getMessage)
    assert(java.nio.file.Files.readString(rival) == "files/rival")
    assert(graft.sources.VersionedTable.latestVersion(root) == v + 1)
    // TRUNCATE commits through the same one-winner write: on top of the
    // rival, never over it
    java.nio.file.Files.writeString(rival, "")
    spark.sql(s"TRUNCATE TABLE graft_vt.$name")
    assert(java.nio.file.Files.readString(rival) == "")
    assert(graft.sources.VersionedTable.latestVersion(root) == v + 2)
    assert(spark.table(s"graft_vt.$name").count() == 0)
  }

  test("COW same-branch: a fully-finished rival fails the stale rewrite loudly") {
    val name = "race_cow"
    val root = mkCow(name)
    spark.sql(s"CALL graft_vt.create_branch('$name', 'dev')")
    // the loser stages against head 0: entries + expected head captured
    // exactly as the production COW rewrite path captures them at build
    val staleHead = VtBranch.ref(root, "dev").head
    val staleBase = VtBranch.entries(root, "dev")
    assert(staleHead == 0)
    // the winner runs a real branch UPDATE and fully commits (head 1)
    spark.sql(s"UPDATE graft_vt.$name.branch_dev SET source = 'winner' WHERE doc_id % 2 = 0")
    assert(VtBranch.ref(root, "dev").head == 1)
    val winnerEntries = VtBranch.entries(root, "dev")
    // the loser now commits its staged rewrite pinned to head 0 — the
    // production branchCommit lambda shape from GraftVtRowLevelOperation
    val loserRel = "files/br_dev_v1_loser/part-0.parquet"
    val f = new java.io.File(s"$root/$loserRel")
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, "stale rewrite"): Unit
    val w = new graft.sources.GraftVtBatchWrite(root, staleHead + 1,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))),
      () => staleBase,
      branchCommit = Some(("dev", entries => {
        VtBranch.commitEntriesAt(root, "dev", staleHead, entries): Unit
      })))
    val e = intercept[java.util.ConcurrentModificationException] {
      w.commit(Array(GraftVtCommitMessage(Seq(VtFile(loserRel, 1)))))
    }
    assert(e.getMessage.contains("conflict"))
    // exactly one winner: branch state is the winner's, untouched
    assert(VtBranch.ref(root, "dev").head == 1)
    assert(VtBranch.entries(root, "dev") == winnerEntries)
    // loud loser cleaned its own output
    assert(!f.exists(), "race loser must abort its staged data files")
    // the branch still reads the winner's rows
    assert(spark.table(s"graft_vt.$name.branch_dev")
      .filter(col("source") === "winner").count() > 0)
    spark.sql(s"CALL graft_vt.drop_branch('$name', 'dev')").collect(): Unit
  }

  test("COW same-branch: manifest claimed but ref not advanced — real UPDATE loses and aborts") {
    val name = "race_cow_narrow"
    val root = mkCow(name)
    spark.sql(s"CALL graft_vt.create_branch('$name', 'dev')")
    // rival claimed head-1's manifest; ref still at 0 → the build-time
    // precheck passes, CREATE_NEW inside commitEntriesAt loses
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_manifest_b_dev_v1.txt"), "")
    intercept[Exception] {
      spark.sql(s"UPDATE graft_vt.$name.branch_dev SET source = 'x' WHERE doc_id % 3 = 0")
    }
    // the loser's COW group dirs must hold no orphaned parquet
    val leftovers = Option(new java.io.File(s"$root/files").list()).get.toSeq
      .filter(_.startsWith("br_dev_v1"))
      .flatMap(g => Option(new java.io.File(s"$root/files/$g").list()).getOrElse(Array.empty).toSeq)
      .filter(_.endsWith(".parquet"))
    assert(leftovers.isEmpty, s"race loser must abort its data files: $leftovers")
    spark.sql(s"CALL graft_vt.drop_branch('$name', 'dev')").collect(): Unit
  }

  test("MOR same-branch: a fully-finished rival fails the stale delta loudly") {
    GraftVtCatalog.ensure(spark)
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source")).filter(col("doc_id") < 40)
    val morRoot = graft.sources.VersionedTable.freshRoot(s"$dir#racespec_mor")
    graft.sources.VtMor.createVersion1(spark, morRoot, docs)
    val keyedSchema = org.apache.spark.sql.types.StructType(docs.schema.fields.map(f =>
      if (f.name == "doc_id") f.copy(nullable = false) else f))
    GraftVtCatalog.registerMor(spark, "race_mor", morRoot, keyedSchema, "doc_id")
    spark.sql("CALL graft_vt.create_branch('race_mor', 'dev')").collect()
    val fork = VtBranch.ref(morRoot, "dev").fork
    // winner: a real branch UPDATE advances the head 0 → 1
    spark.sql("UPDATE graft_vt.race_mor.branch_dev SET source = 'winner' WHERE doc_id % 2 = 0")
    assert(VtBranch.ref(morRoot, "dev").head == 1)
    // loser staged against head 0 (k = 1): the sequence-stamped delta
    // write's precheck must refuse — head already moved
    val e = intercept[java.util.ConcurrentModificationException] {
      new graft.sources.MorDeltaBatchWrite(morRoot, fork + 1, keyedSchema,
        branchCommit = Some(("dev", 1))).commit(Array.empty)
    }
    assert(e.getMessage.contains("conflict"))
    assert(VtBranch.ref(morRoot, "dev").head == 1, "winner's head stands")
    // a writer planned against the NEW head still succeeds (no stuck branch)
    spark.sql("UPDATE graft_vt.race_mor.branch_dev SET source = 'second' WHERE doc_id % 5 = 0")
    assert(VtBranch.ref(morRoot, "dev").head == 2)
    spark.sql("CALL graft_vt.drop_branch('race_mor', 'dev')").collect(): Unit
  }

  test("same-branch appends stay lenient: both writers land, nothing lost") {
    val name = "race_append"
    val root = mkCow(name)
    spark.sql(s"CALL graft_vt.create_branch('$name', 'dev')")
    val n0 = spark.table(s"graft_vt.$name.branch_dev").count()
    // two appends in sequence — the second re-resolves its base at
    // commit (order-commutative), so no false conflict and no lost rows
    spark.sql(s"INSERT INTO graft_vt.$name.branch_dev " +
      "SELECT doc_id + 1000, text, 'a1' FROM race_spec_src WHERE doc_id < 5")
    spark.sql(s"INSERT INTO graft_vt.$name.branch_dev " +
      "SELECT doc_id + 2000, text, 'a2' FROM race_spec_src WHERE doc_id < 7")
    assert(VtBranch.ref(root, "dev").head == 2)
    val t = spark.table(s"graft_vt.$name.branch_dev")
    assert(t.count() == n0 + 12)
    assert(t.filter(col("source") === "a1").count() == 5)
    assert(t.filter(col("source") === "a2").count() == 7)
    spark.sql(s"CALL graft_vt.drop_branch('$name', 'dev')").collect(): Unit
  }
}
