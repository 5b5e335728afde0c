package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SqlDml
import graft.sources.{GraftVtCatalog, VersionedTable, ZoneMap, ZoneMapScanBuilder}

/** File-level data skipping on clustered versioned tables: the oracle
  * gate proves pruning never changes RESULTS; this suite pins that it
  * actually PRUNES — fewer files bound, disjoint per-file ranges after
  * an ordered COW write, sane empty-range behavior — and the interval
  * logic's conservative edges.
  */
class ZoneMapSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  test("range scan binds fewer files than the manifest names") {
    // own fixture (no DML): an 8-file range-partitioned layout with the
    // ANALYZE-built sidecar — q_zonemap_scan's table keeps advancing
    // versions under retention, so its v1 is not a stable target
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_zm_spec").toString
    val base = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    base.repartitionByRange(8, col("doc_id"))
      .write.mode("overwrite").parquet(s"$root/files/base_v1")
    graft.sources.VersionedTable.writeManifest(root, 1, Seq("files/base_v1"))
    graft.sources.ZoneMap.analyze(spark, root, 1, "doc_id"): Unit
    GraftVtCatalog.register(spark, "vt_zoned_spec", root, base.schema,
      clusterCol = Some("doc_id"))
    spark.sql(
      """SELECT count(*) FROM graft_vt.vt_zoned_spec
        |WHERE doc_id BETWEEN 100 AND 149""".stripMargin).collect(): Unit
    val (all, kept) = ZoneMapScanBuilder.lastPrune
    assert(all >= 4, s"fixture should have several files, got $all")
    assert(kept < all, s"a 10% key range must not bind all $all files")
    assert(kept >= 1)
  }

  test("ordered clustered write produces files with disjoint key ranges") {
    SqlDml.sqlZonedTable(spark, dir).collect(): Unit
    // small data + AQE normally coalesce the ordered shuffle to one
    // file; pin the multi-file contract with coalescing off — exactly
    // the shape a 100 TB write has, where every range partition is full
    val s = spark.newSession()
    GraftVtCatalog.ensure(s) // runtime confs don't carry into newSession
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.sql(
      """INSERT OVERWRITE graft_vt.vt_zoned
        |SELECT doc_id, text, source FROM parquet.`""".stripMargin.replace("\n", " ")
        + s"$dir/documents.parquet`")
    val root = GraftVtCatalog.rootOf("vt_zoned").get
    val v = VersionedTable.latestVersion(root)
    val stats = ZoneMap.read(root, v, "doc_id")
      .getOrElse(fail("clustered write must commit the new version's sidecar"))
    assert(stats.size >= 2, s"expected multiple files, got ${stats.keySet}")
    val ranges = stats.values.toSeq.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"ordered write must give disjoint ranges, got $ranges")
      case _ => ()
    }
    // restore the canonical state for any later consumer of vt_zoned
    SqlDml.sqlZonedTable(spark, dir).collect(): Unit
  }

  test("a provably-empty key range scans zero files and returns zero rows") {
    SqlDml.sqlZonedTable(spark, dir).collect(): Unit
    val n = spark.sql(
      "SELECT count(*) AS n FROM graft_vt.vt_zoned WHERE doc_id > 1000000000")
      .collect().head.getLong(0)
    assert(n == 0)
    val (all, kept) = ZoneMapScanBuilder.lastPrune
    assert(kept == 0, s"every one of the $all files should be skipped")
  }

  test("interval logic is conservative on the right edges") {
    import org.apache.spark.sql.sources._
    val stats = Map("f1" -> (0L, 99L), "f2" -> (100L, 199L))
    val files = Seq("f1", "f2", "f3") // f3 has no stats -> always kept
    def keep(fs: Filter*): Seq[String] = ZoneMap.prune(stats, "k", fs, files)
    assert(keep(EqualTo("k", 50L)) == Seq("f1", "f3"))
    assert(keep(GreaterThanOrEqual("k", 100L)) == Seq("f2", "f3"))
    assert(keep(LessThan("k", 100L)) == Seq("f1", "f3"))
    assert(keep(In("k", Array(5L, 150L))) == Seq("f1", "f2", "f3"))
    assert(keep(And(GreaterThan("k", 99L), LessThan("k", 101L))) == Seq("f2", "f3"))
    assert(keep(Or(EqualTo("k", 5L), EqualTo("k", 500L))) == Seq("f1", "f3"))
    // other columns and unknown shapes never prune
    assert(keep(EqualTo("other", 5L)) == files)
    assert(keep(StringContains("k", "x")) == files)
    // boundary inclusivity
    assert(keep(EqualTo("k", 99L)) == Seq("f1", "f3"))
    assert(keep(GreaterThan("k", 199L)) == Seq("f3"))
  }
}
