package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SqlDml

/** SQL DML through the DSv2 catalog: beyond the driver's oracle gate,
  * pin the properties the gate can't see — statement idempotence (bench
  * reps must converge), and commit-time retention (disk must stay
  * bounded when every COW statement rewrites the whole table).
  */
class SqlDmlSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def manifests(root: String): Seq[Int] =
    Option(new java.io.File(root).list()).getOrElse(Array.empty[String]).toSeq
      .collect { case n if n.startsWith("_manifest_v") && n.endsWith(".txt") =>
        n.stripPrefix("_manifest_v").stripSuffix(".txt").toInt }.sorted

  private def groups(root: String): Seq[String] =
    Option(new java.io.File(s"$root/files").list()).getOrElse(Array.empty[String]).toSeq.sorted

  test("expire_versions keeps the latest version and tag-pinned versions") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_expire_spec").toString
    val base = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    (1 to 3).foreach { v =>
      base.limit(10 * v).coalesce(1).write.parquet(s"$root/files/g$v")
      graft.sources.VersionedTable.writeManifest(root, v, Seq(s"files/g$v"))
    }
    val ms = (1 to 3).map(v => new java.io.File(s"$root/_manifest_v$v.txt"))
    ms.sliding(2).foreach {
      case Seq(a, b) if b.lastModified() < a.lastModified() + 2000 =>
        b.setLastModified(a.lastModified() + 2000): Unit
      case _ => ()
    }
    graft.sources.GraftVtCatalog.register(spark, "expire_spec", root, base.schema)
    graft.sources.GraftVtTable.tag(root, "keepme", 1)
    val cutoff = graft.sources.VersionedTable.versionCommitMicros(root).map(_._2).max
    val r = spark.sql(
      s"CALL graft_vt.expire_versions('expire_spec', timestamp_micros(${cutoff}L))")
      .collect().head
    // v2 expired; v1 survives via the tag, v3 as the head
    assert(manifests(root) == Seq(1, 3), s"got ${manifests(root)}")
    assert(r.getInt(0) == 2, s"two versions fell before the cutoff: $r")
    assert(groups(root).sorted == Seq("g1", "g3"),
      s"only the untagged, non-head group dies: ${groups(root)}")
    // both survivors still read
    assert(spark.sql("SELECT COUNT(*) FROM graft_vt.expire_spec VERSION AS OF 1")
      .collect().head.getLong(0) == 10)
    assert(spark.table("graft_vt.expire_spec").count() == 30)
  }

  test("UPDATE is idempotent and retention caps disk at two versions") {
    val r1 = SqlDml.sqlUpdate(spark, dir).collect().map(_.toString).sorted
    val root = graft.sources.GraftVtCatalog.rootOf("dml_update").get
    val afterFirst = manifests(root)
    // run twice more: each statement commits a new version, retention
    // must keep exactly the trailing two manifests and their groups
    val r2 = SqlDml.sqlUpdate(spark, dir).collect().map(_.toString).sorted
    val r3 = SqlDml.sqlUpdate(spark, dir).collect().map(_.toString).sorted
    assert(r1.sameElements(r2) && r2.sameElements(r3),
      "UPDATE with fixpoint SET must converge across reps")
    val ms = manifests(root)
    assert(ms.size <= 2, s"retention must cap manifests, got $ms (first run: $afterFirst)")
    assert(ms.max > afterFirst.max, "each statement must commit a new version")
    // every on-disk group is referenced by a retained manifest — no leaks
    val referenced = ms.flatMap(v => graft.sources.VersionedTable.manifest(root, v))
      .map(_.split("/").take(2).mkString("/")).toSet
    val onDisk = groups(root).map(g => s"files/$g").toSet
    assert(onDisk.subsetOf(referenced),
      s"unreferenced groups left on disk: ${onDisk -- referenced}")
  }

  test("MERGE applies all three WHEN arms") {
    import org.apache.spark.sql.functions._
    val out = SqlDml.sqlMerge(spark, dir)
    val bySource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource.getOrElse("recrawl", 0L) > 0, "matched-update arm wrote no rows")
    assert(bySource.getOrElse("inserted", 0L) > 0, "not-matched-insert arm wrote no rows")
    // the delete arm removed doc_ids ≡ 3 (mod 11) that weren't updated
    val survivors = out.filter(col("doc_id") % 11 === 3 && col("doc_id") % 7 =!= 0
      && col("doc_id") < 10000000L).count()
    assert(survivors == 0, s"delete arm left $survivors rows")
  }

  test("MERGE plans as one join feeding ReplaceData — no cartesian, no collect") {
    // materialize the table + source view without running the statement
    SqlDml.sqlMerge(spark, dir).count(): Unit
    val plan = spark.sql(
      """EXPLAIN FORMATTED MERGE INTO graft_vt.dml_merge t
        |USING graft_merge_updates s
        |ON t.doc_id = s.doc_id
        |WHEN MATCHED AND s.op = 'delete' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET text = s.text, source = s.source
        |WHEN NOT MATCHED AND s.op <> 'delete' THEN
        |  INSERT (doc_id, text, source) VALUES (s.doc_id, s.text, s.source)""".stripMargin)
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("ReplaceData"), s"expected group-based COW plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"MERGE must not plan a cartesian:\n$plan")
    // count in the operator TREE only — the formatted details section
    // repeats each operator name once more
    val tree = plan.split("\n\n").head
    val joins = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r
      .findAllIn(tree).size
    assert(joins == 1, s"MERGE must plan exactly one target×source join, got $joins:\n$tree")
  }

  test("DML is immune to an unrelated live cached plan (r8 as-of lesson)") {
    val docs = graft.sources.Tables(spark, dir, "documents")
    val cached = docs.limit(10).cache()
    try {
      cached.count(): Unit
      val r = SqlDml.sqlUpdate(spark, dir)
      assert(r.filter(org.apache.spark.sql.functions.col("source") === "updated").count() > 0)
    } finally { cached.unpersist(): Unit }
  }

  test("concurrent commit conflict aborts the loser and keeps the table intact") {
    // drive the commit protocol directly at the race point: both writers
    // planned against version N and produced their files; the second
    // commit of N+1 must fail AND clean its own output
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_vt_conflict").toString
    graft.sources.VersionedTable.writeManifest(root, 1, Nil)
    val schema = StructType(Seq(StructField("doc_id", LongType)))
    def writeOf(tag: String) = {
      val f = new java.io.File(s"$root/files/dml_v2/$tag.parquet")
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, tag): Unit
      (new graft.sources.GraftVtBatchWrite(root, 2, schema, () => Nil),
        Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
          graft.sources.GraftVtCommitMessage(
            Seq(graft.sources.VtFile(s"files/dml_v2/$tag.parquet", 1)))))
    }
    val (w1, m1) = writeOf("winner")
    val (w2, m2) = writeOf("loser")
    w1.commit(m1)
    val e = intercept[java.util.ConcurrentModificationException] { w2.commit(m2) }
    assert(e.getMessage.contains("conflict"))
    // the winner's manifest stands and names only its own file; the
    // loser's output was aborted off disk
    assert(graft.sources.VersionedTable.manifest(root, 2)
      == Seq("files/dml_v2/winner.parquet"))
    assert(!new java.io.File(s"$root/files/dml_v2/loser.parquet").exists())
    assert(new java.io.File(s"$root/files/dml_v2/winner.parquet").exists())
  }

  test("aligned DELETE is metadata-only; a splitting predicate falls back to rewrite") {
    SqlDml.sqlDeleteFiles(spark, dir).collect(): Unit
    val root = graft.sources.GraftVtCatalog.rootOf("dml_del_files").get
    val v = manifests(root).max
    val entries = graft.sources.VersionedTable.manifest(root, v)
    // the surviving manifest references the ORIGINAL lo file — no dml
    // rewrite group was written, the delete was one manifest commit
    assert(entries.nonEmpty && entries.forall(_.startsWith("files/lo_v1")),
      s"metadata delete must keep the original file untouched, got $entries")
    assert(groups(root).forall(g => !g.startsWith("dml_")),
      s"metadata delete must write no data files, got ${groups(root)}")

    // a predicate that SPLITS the surviving file can't resolve from
    // zone maps: the ordinary COW rewrite must run (correct rows, and
    // this time a dml group exists)
    spark.sql("DELETE FROM graft_vt.dml_del_files WHERE doc_id >= 50")
    val after = spark.sql("SELECT max(doc_id) AS m, count(*) AS n FROM graft_vt.dml_del_files")
      .collect().head
    assert(after.getLong(0) == 49 && after.getLong(1) == 50)
    val v2entries = graft.sources.VersionedTable.manifest(root, manifests(root).max)
    assert(v2entries.exists(_.startsWith("files/dml_")),
      s"splitting delete must go through the rewrite, got $v2entries")
    // restore the canonical state for any later q_sql_delete_files run
    // in this JVM: rebuild is cheap and keyed caches keep the root
    spark.sql("INSERT OVERWRITE graft_vt.dml_del_files " +
      s"SELECT doc_id, text, source FROM parquet.`$dir/documents.parquet` WHERE doc_id < 100")
  }

  test("DELETE removes exactly the predicated rows") {
    import org.apache.spark.sql.functions._
    val out = SqlDml.sqlDelete(spark, dir)
    assert(out.filter(col("doc_id") % 3 === 0 && col("n_chars") > 50).count() == 0)
    assert(out.count() > 0)
  }

  test("RENAME TO moves the name, keeps history, and guards collisions") {
    import org.apache.spark.sql.functions.col
    val base = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val root = java.nio.file.Files.createTempDirectory("graft_rename").toString
    base.repartitionByRange(4, col("doc_id"))
      .write.mode("overwrite").parquet(s"$root/files/base_v1")
    graft.sources.VersionedTable.writeManifest(root, 1, Seq("files/base_v1"))
    graft.sources.ZoneMap.analyze(spark, root, 1, "doc_id"): Unit
    graft.sources.GraftVtCatalog.register(spark, "rn_a", root, base.schema,
      clusterCol = Some("doc_id"))
    spark.sql("DROP TABLE IF EXISTS graft_vt.rn_b")
    spark.sql("UPDATE graft_vt.rn_a SET source = 'v2' WHERE doc_id < 50")
    spark.sql("ALTER TABLE graft_vt.rn_a RENAME TO graft_vt.rn_b")
    // old name is gone, new name serves current AND historical versions
    assertThrows[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT * FROM graft_vt.rn_a").collect())
    val cur = spark.sql(
      "SELECT count(*) FROM graft_vt.rn_b WHERE source = 'v2'")
      .collect().head.getLong(0)
    assert(cur > 0)
    val old = spark.sql(
      "SELECT count(*) FROM graft_vt.rn_b VERSION AS OF 1 WHERE source = 'v2'")
      .collect().head.getLong(0)
    assert(old == 0, "time travel must survive the rename (root unchanged)")
    // the clustered mode moved with the name: static pruning still fires
    graft.sources.ZoneMapScanBuilder.lastPrune = (0, 0)
    spark.sql("SELECT * FROM graft_vt.rn_b WHERE doc_id BETWEEN 500 AND 520")
      .collect(): Unit
    val (all, kept) = graft.sources.ZoneMapScanBuilder.lastPrune
    assert(all > 1 && kept < all,
      s"cluster column must ride the rename ($kept/$all files bound)")
    // renaming onto an existing name is rejected; the victim is intact
    graft.sources.GraftVtCatalog.register(spark, "rn_victim", root, base.schema)
    assertThrows[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException](
      spark.sql("ALTER TABLE graft_vt.rn_b RENAME TO graft_vt.rn_victim"))
    assert(spark.sql("SELECT count(*) FROM graft_vt.rn_b").collect().head.getLong(0) > 0)
  }

  test("MERGE WITH SCHEMA EVOLUTION grows the schema; without the clause a wider source fails") {
    import org.apache.spark.sql.functions.{col, lit}
    val base = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val root = java.nio.file.Files.createTempDirectory("graft_merge_evo").toString
    base.write.mode("overwrite").parquet(s"$root/files/base_v1")
    graft.sources.VersionedTable.writeManifest(root, 1, Seq("files/base_v1"))
    graft.sources.GraftVtCatalog.register(spark, "merge_evo_spec", root, base.schema)
    base.filter(col("doc_id") % 10 === 0)
      .withColumn("lang", lit("en"))
      .createOrReplaceTempView("merge_evo_src")
    // without the clause: the extra source column cannot bind
    assertThrows[org.apache.spark.sql.AnalysisException](
      spark.sql(
        """MERGE INTO graft_vt.merge_evo_spec t USING merge_evo_src s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET lang = s.lang""".stripMargin))
    assert(!spark.table("graft_vt.merge_evo_spec").schema.fieldNames.contains("lang"),
      "the failed merge must not half-evolve the schema")
    // with the clause: the AddColumn delta applies, old rows null-fill
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft_vt.merge_evo_spec t
        |USING merge_evo_src s
        |ON t.doc_id = s.doc_id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val tbl = spark.table("graft_vt.merge_evo_spec")
    assert(tbl.schema.fieldNames.contains("lang"))
    val n = tbl.count()
    val nullLang = tbl.filter(col("lang").isNull).count()
    val enLang = tbl.filter(col("lang") === "en").count()
    assert(enLang === base.filter(col("doc_id") % 10 === 0).count())
    assert(nullLang === n - enLang, "untouched rows must null-backfill the new column")
  }

  test("cherrypick: restores exactly the orphaned append; refuses non-append and double-apply") {
    import org.apache.spark.sql.functions.col
    // run the ladder (v1 base → v2 append → v3 rollback → v4 cherrypick)
    graft.operators.SqlDml.sqlCherrypick(spark, dir).collect()
    val docs = graft.sources.Tables(spark, dir, "documents")
    val nBase = docs.count()
    val nCherry = docs.filter(col("doc_id") % 5 === 1).count()
    val tbl = spark.table("graft_vt.vt_cherry")
    assert(tbl.count() == nBase + nCherry,
      "head must hold base ⊎ the cherry-picked append, nothing else")
    assert(tbl.filter(col("source") === "cherry").count() == nCherry)
    // double-apply: v2's group already sits at head v4
    val dup = intercept[Exception](
      spark.sql("CALL graft_vt.cherrypick('vt_cherry', 2)").collect())
    assert(dup.getMessage.contains("double-apply"), dup.getMessage)
    // v3 (the rollback commit) REMOVED v2's files — not append-only
    val rb = intercept[Exception](
      spark.sql("CALL graft_vt.cherrypick('vt_cherry', 3)").collect())
    assert(rb.getMessage.contains("removed files"), rb.getMessage)
  }

  test("TRUNCATE: empty metadata-only commit, never a silent no-op, tag survives") {
    graft.operators.SqlDml.sqlTruncate(spark, dir).collect()
    // the truncate committed a NEW empty version (metadata-only): the
    // default SupportsDelete route silently no-ops on unclustered
    // tables — this pin exists to keep the override honest
    val root = graft.sources.GraftVtCatalog.rootOf("tr_docs").get
    assert(manifests(root).size >= 2, "truncate must commit a version")
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft_vt.tr_docs VERSION AS OF 'pre-truncate'")
      .collect().head.getLong(0) > 0, "tagged snapshot must stay readable")
    spark.sql("TRUNCATE TABLE graft_vt.tr_docs")
    assert(spark.table("graft_vt.tr_docs").count() == 0,
      "a second truncate must also empty the head")
  }

  test("CREATE TABLE keeps column DEFAULTs: omission, explicit, and DEFAULT keyword") {
    spark.sql("DROP TABLE IF EXISTS graft_vt.cd_docs")
    spark.sql(
      "CREATE TABLE graft_vt.cd_docs (doc_id BIGINT, tier STRING DEFAULT 'basic')")
    spark.sql("INSERT INTO graft_vt.cd_docs (doc_id) VALUES (1)")
    spark.sql("INSERT INTO graft_vt.cd_docs VALUES (2, 'pro'), (3, DEFAULT)")
    val rows = spark.table("graft_vt.cd_docs").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "basic", 2L -> "pro", 3L -> "basic"), rows.toString)
  }

  test("orphan audit: non-destructive, idempotent, and vacuum then collects the debris") {
    val first = graft.operators.SqlDml.sqlOrphanAudit(spark, dir).collect().head
    assert(first.getInt(0) == 1 && first.getInt(1) == 1 && first.getLong(2) > 0)
    // audit deleted nothing: the debris is still on disk and a second
    // audit reports the identical counts
    val again = spark.sql("CALL graft_vt.orphan_files('vt_orphan')").collect().head
    assert(again == first, "audit must be idempotent and non-destructive")
    // vacuum's unreferenced-group collection DOES take the debris
    spark.sql("CALL graft_vt.vacuum('vt_orphan', 1)").collect()
    val after = spark.sql("CALL graft_vt.orphan_files('vt_orphan')").collect().head
    assert(after.getInt(0) == 0 && after.getInt(1) == 1,
      s"vacuum should collect the orphan group: $after")
    // the live table is untouched throughout
    assert(spark.table("graft_vt.vt_orphan").count() > 0)
  }

  test("constraint DDL: rejected write commits nothing, enforced re-ADD validates data") {
    graft.operators.SqlDml.sqlConstraintDdl(spark, dir).collect()
    // the rejected insert (doc_id 9000001) must have committed NOTHING —
    // the abort path never writes a manifest
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft_vt.ck_docs WHERE doc_id = 9000001")
      .collect().head.getLong(0) == 0, "aborted write leaked rows")
    // the table now holds the post-drop violating row (9000002): an
    // ENFORCED re-ADD must fail its validation scan, not register
    val err = intercept[Exception](spark.sql(
      "ALTER TABLE graft_vt.ck_docs ADD CONSTRAINT chars_pos CHECK (n_chars > 0)"))
    assert(err.getMessage.toLowerCase.contains("violat"), err.getMessage)
    // and the failed ADD left no half-registered contract: a violating
    // insert still loads
    spark.sql("INSERT INTO graft_vt.ck_docs VALUES (9000003, 0)")
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft_vt.ck_docs WHERE doc_id = 9000003")
      .collect().head.getLong(0) == 1)
  }

  test("ADD COLUMN DEFAULT: existence default on pre-ADD files, write default on omission, explicit NULL kept") {
    graft.operators.SqlDml.sqlAddDefault(spark, dir).collect()
    val rows = spark.sql(
      "SELECT doc_id, band, tier FROM graft_vt.default_docs").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)).getOrElse("<null>")))
    assert(rows.nonEmpty)
    rows.foreach {
      // v1 files physically lack `tier` — the reader substitutes the
      // existence default, never null
      case (id, "orig", t) =>
        assert(id % 2 == 0 && t == "standard", s"pre-ADD row ($id) got tier $t")
      // omitted-column INSERT — the analyzer fills the write default
      case (id, "late-omit", t) =>
        assert(id % 4 == 1 && t == "standard", s"omitted-column row ($id) got $t")
      // explicit values survive; the explicit NULL is NOT backfilled
      // (files written after the ADD carry the column physically)
      case (id, "late-explicit", t) =>
        assert(id % 4 == 3, s"unexpected id $id")
        if (id % 8 == 3) assert(t == "<null>", s"explicit NULL resurrected on $id: $t")
        else assert(t == "premium", s"explicit value lost on $id: $t")
      case other => fail(s"unexpected band: $other")
    }
    // a time-varying default is FROZEN at ADD time for old rows: the
    // EXISTS_DEFAULT metadata must hold a literal, never the original
    // function call (which would re-evaluate per scan)
    spark.sql("ALTER TABLE graft_vt.default_docs " +
      "ADD COLUMN seen TIMESTAMP DEFAULT current_timestamp()")
    val f = spark.table("graft_vt.default_docs").schema("seen")
    val frozen = f.metadata.getString("EXISTS_DEFAULT")
    assert(frozen.toUpperCase.startsWith("TIMESTAMP"), frozen)
    assert(!frozen.toLowerCase.contains("current_timestamp"), frozen)
    assert(f.metadata.getString("CURRENT_DEFAULT")
      .toLowerCase.contains("current_timestamp"))
    // and the frozen value actually surfaces on pre-ADD rows, stably
    val seen = spark.sql(
      "SELECT COUNT(DISTINCT seen) FROM graft_vt.default_docs WHERE band = 'orig'")
      .collect().head.getLong(0)
    assert(seen == 1L, s"pre-ADD rows must share ONE frozen timestamp, got $seen")
    // SET DEFAULT rebinds only the WRITE default; the existence default
    // (what pre-ADD files read) must stay frozen at 'standard'
    spark.sql("ALTER TABLE graft_vt.default_docs ALTER COLUMN tier SET DEFAULT 'gold'")
    spark.sql("INSERT INTO graft_vt.default_docs (doc_id, band) " +
      "VALUES (9000001, 'late-gold')")
    assert(spark.sql("SELECT tier FROM graft_vt.default_docs " +
      "WHERE band = 'late-gold'").collect().head.getString(0) == "gold")
    assert(spark.sql("SELECT DISTINCT tier FROM graft_vt.default_docs " +
      "WHERE band = 'orig'").collect().map(_.getString(0)).toSeq == Seq("standard"),
      "SET DEFAULT must not move the frozen existence default")
    // DROP DEFAULT: omission now yields NULL, history still intact
    spark.sql("ALTER TABLE graft_vt.default_docs ALTER COLUMN tier DROP DEFAULT")
    spark.sql("INSERT INTO graft_vt.default_docs (doc_id, band) " +
      "VALUES (9000002, 'late-none')")
    assert(spark.sql("SELECT tier FROM graft_vt.default_docs " +
      "WHERE band = 'late-none'").collect().head.isNullAt(0),
      "after DROP DEFAULT an omitted column must be NULL")
  }
}
