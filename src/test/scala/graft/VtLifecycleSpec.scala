package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftVtCatalog, VersionedTable, VtMor, ZoneMapScanBuilder}

/** Combined table-format stress (r12 verdict #7): each sidecar tier is
  * pinned solo by its own suite (ZoneMapSpec, BloomSkipSpec, MorSpec,
  * BranchSpec); this suite drives WHOLE LIFECYCLES through one table at
  * a time — branch commits, merge-on-read deltas, OPTIMIZE layout /
  * compaction, runtime pruning, version expiry — with every step
  * differentially checked against a straight-line recompute of the same
  * logical operations on plain DataFrames.
  *
  * Two lifecycles because the format makes z-order and MOR physically
  * exclusive BY DESIGN (a Morton rewrite would re-sequence the rows the
  * tombstone keys address; `registerMor` clears cluster cols and
  * `optimizeProc` routes MOR tables through the tombstone-aware
  * compactor instead of the layout pass).
  */
class VtLifecycleSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertSame(got: DataFrame, want: DataFrame, where: String): Unit = {
    val (g, w) = (canon(got), canon(want))
    assert(g == w, s"$where: ${g.length} vs ${w.length} rows; " +
      s"first diff: ${g.diff(w).headOption.orElse(w.diff(g).headOption)}")
  }

  test("vacuum drops a retired version's bloom sidecars with its manifest") {
    val base = graft.sources.Tables(spark, dir, "documents").select(col("doc_id"))
    val root = java.nio.file.Files.createTempDirectory("graft_bloom_vac").toString
    base.repartition(4, col("doc_id")).write.mode("overwrite").parquet(s"$root/files/base_v1")
    VersionedTable.writeManifest(root, 1, Seq("files/base_v1"))
    graft.sources.BloomMap.analyze(spark, root, 1, "doc_id"): Unit
    GraftVtCatalog.register(spark, "bloom_vac", root, base.schema)
    GraftVtCatalog.registerBloomCols("bloom_vac", Seq("doc_id"))
    def bloomV1 = new java.io.File(root).list().toSeq.filter(_.startsWith("_bloom_v1_"))
    assert(bloomV1.nonEmpty, "the fixture must carry v1 bloom sidecars")
    // optimize keeps the last two versions: the second one retires v1
    while (VersionedTable.exists(root, 1))
      spark.sql("CALL graft_vt.optimize('bloom_vac')").collect(): Unit
    assert(bloomV1.isEmpty, s"v1 is vacuumed but its bloom sidecars remain: $bloomV1")
    assert(spark.sql("SELECT count(*) FROM graft_vt.bloom_vac").collect().head.getLong(0)
      == base.count())
  }

  test("MOR lifecycle: main delta, branch delete in isolation, fast-forward, " +
    "tombstone-aware optimize, single-version vacuum") {
    val name = "vt_life_mor"
    GraftVtCatalog.ensure(spark)
    spark.sql(s"DROP TABLE IF EXISTS graft_vt.$name")
    val base = sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val root = VersionedTable.freshRoot(
      s"$dir#$name#${VtLifecycleSpec.seq.incrementAndGet()}")
    VtMor.createVersion1(spark, root, base)
    val schema = org.apache.spark.sql.types.StructType(base.schema.fields.map(f =>
      if (f.name == "doc_id") f.copy(nullable = false) else f))
    GraftVtCatalog.registerMor(spark, name, root, schema, keyCol = "doc_id")

    // straight-line differential: the same logical ops on the plain DF
    var expected = base
    spark.sql(s"DELETE FROM graft_vt.$name WHERE doc_id % 7 = 0")
    expected = expected.filter(!(col("doc_id") % 7 === 0))
    assertSame(spark.table(s"graft_vt.$name"), expected, "main MOR delete")

    // branch delete: isolated from main, visible on the branch
    spark.sql(s"CALL graft_vt.create_branch('$name', 'fix')")
    spark.sql(s"DELETE FROM graft_vt.$name.branch_fix WHERE doc_id % 5 = 1")
    assertSame(spark.table(s"graft_vt.$name"), expected,
      "main must not see the branch tombstones")
    val expectedBranch = expected.filter(!(col("doc_id") % 5 === 1))
    assertSame(spark.table(s"graft_vt.$name.branch_fix"), expectedBranch,
      "branch MOR delete")
    spark.sql(s"CALL graft_vt.fast_forward('$name', 'fix')")
    expected = expectedBranch
    assertSame(spark.table(s"graft_vt.$name"), expected,
      "fast-forward must promote the branch tombstones")

    // optimize on a MOR table = tombstone-aware compaction: the
    // tombstone set folds away, logical rows byte-identical
    spark.sql(s"CALL graft_vt.optimize('$name')").collect()
    val v = VersionedTable.latestVersion(root)
    assert(VtMor.readMeta(root, v).forall(_.tombs.isEmpty),
      "optimize must clear the tombstone set")
    assertSame(spark.table(s"graft_vt.$name"), expected, "post-optimize content")

    // retention down to the compacted head: the compacted version is
    // self-contained, so a keep-1 vacuum must not strand any row
    spark.sql(s"CALL graft_vt.vacuum('$name', 1)").collect()
    assertSame(spark.table(s"graft_vt.$name"), expected, "post-vacuum content")

    // bloom seam: the tombstone-aware optimize maintains bloom sidecars
    // for registered columns, but the MOR SCAN path stays CONSERVATIVE
    // by design (file skipping would need per-file tombstone
    // accounting): a point probe must read every file, touch no prune
    // hook, and stay exact
    GraftVtCatalog.registerBloomCols(name, Seq("doc_id"))
    spark.sql(s"CALL graft_vt.optimize('$name')").collect()
    ZoneMapScanBuilder.lastPrune = (-1, -1)
    val got = spark.sql(s"SELECT COUNT(*) FROM graft_vt.$name WHERE doc_id = 2")
      .collect().head.getLong(0)
    assert(got == expected.filter(col("doc_id") === 2).count(),
      "post-optimize point probe must stay exact")
    assert(ZoneMapScanBuilder.lastPrune == ((-1, -1)),
      "MOR scans must not engage the sidecar prune path (conservative by design)")
  }

  test("z-order lifecycle: branch insert+delete, fast-forward, OPTIMIZE layout, " +
    "runtime prune, time-based expiry") {
    val name = "vt_life_z"
    GraftVtCatalog.ensure(spark)
    spark.sql(s"DROP TABLE IF EXISTS graft_vt.$name")
    spark.sql(
      s"""CREATE TABLE graft_vt.$name (event_id BIGINT, user_id BIGINT, event_type STRING)
         |TBLPROPERTIES ('zorder' = 'event_id,user_id')""".stripMargin)
    val src = sources.Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    src.repartition(6).createOrReplaceTempView("vt_life_src")
    spark.sql(s"INSERT INTO graft_vt.$name SELECT * FROM vt_life_src")
    var expected = src
    assertSame(spark.table(s"graft_vt.$name"), expected, "initial insert")

    // branch: an insert AND a COW delete, isolated, then promoted
    spark.sql(s"CALL graft_vt.create_branch('$name', 'dev')")
    spark.sql(
      s"""INSERT INTO graft_vt.$name.branch_dev
         |SELECT event_id + 1000000, user_id, 'staged'
         |FROM vt_life_src WHERE event_id % 97 = 0""".stripMargin)
    spark.sql(
      s"""DELETE FROM graft_vt.$name.branch_dev
         |WHERE event_type = 'view' AND event_id % 13 = 2""".stripMargin)
    assertSame(spark.table(s"graft_vt.$name"), expected,
      "main must not see branch commits")
    val staged = src.filter(col("event_id") % 97 === 0)
      .select((col("event_id") + 1000000).as("event_id"), col("user_id"),
        lit("staged").as("event_type"))
    val expectedBranch = expected.unionByName(staged)
      .filter(!(col("event_type") === "view" && col("event_id") % 13 === 2))
    assertSame(spark.table(s"graft_vt.$name.branch_dev"), expectedBranch,
      "branch insert+delete")
    spark.sql(s"CALL graft_vt.fast_forward('$name', 'dev')")
    expected = expectedBranch
    assertSame(spark.table(s"graft_vt.$name"), expected, "fast-forward")
    val preOptimizeV = VersionedTable.latestVersion(GraftVtCatalog.rootOf(name).get)

    // OPTIMIZE ZORDER: Morton layout + sidecars; the 2-D box now PRUNES
    // at runtime and still counts exactly the straight-line box
    // tiny target size forces a multi-file Morton layout on the
    // sf0.001 fixture so the prune assert has files to skip
    spark.sql(s"CALL graft_vt.optimize('$name', 1024)").collect()
    ZoneMapScanBuilder.lastPrune = (-1, -1)
    val boxSql =
      s"""SELECT count(*) AS n FROM graft_vt.$name
         |WHERE event_id BETWEEN 100 AND 299 AND user_id BETWEEN 2 AND 5""".stripMargin
    val box = spark.sql(boxSql).collect().head.getLong(0)
    val (all, kept) = ZoneMapScanBuilder.lastPrune
    assert(all > 0 && kept < all,
      s"optimized layout must runtime-prune the box scan ($kept/$all)")
    val boxExpected = expected.filter(
      col("event_id").between(100, 299) && col("user_id").between(2, 5)).count()
    assert(box == boxExpected, s"pruned box count: $box vs $boxExpected")
    assertSame(spark.table(s"graft_vt.$name"), expected, "post-optimize content")

    // time-based expiry to the head: content identical, the pre-optimize
    // version no longer time-travelable
    spark.sql(
      s"CALL graft_vt.expire_versions('$name', timestamp_micros(${Long.MaxValue / 2}L))")
      .collect()
    assertSame(spark.table(s"graft_vt.$name"), expected, "post-expiry content")
    val gone = intercept[Exception](
      spark.sql(s"SELECT * FROM graft_vt.$name VERSION AS OF $preOptimizeV").collect())
    assert(gone != null)
  }
}

object VtLifecycleSpec {
  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)
}
