package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SqlDml
import graft.sources.{GraftVtCatalog, Scratch, Tables, VersionedTable, ZoneMap}

/** Pins for PARTITION-SPEC EVOLUTION (`CALL graft_vt.evolve_partition`):
  * unit routing produces files at most one unit wide, the evolution is
  * metadata-only (no version committed, no file rewritten), mixed
  * day/hour layouts prune through the one zone-map mechanism, and the
  * persisted spec line survives re-registration.
  */
class PartitionEvolveSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001
  private val DayUs = 86400000000L
  private val HourUs = 3600000000L

  private def fixture(): (String, Int, Map[String, (Long, Long)]) = {
    SqlDml.sqlPartitionEvolve(spark, dir).collect(): Unit
    val root = GraftVtCatalog.rootOf("vt_part_evolve").get
    val v = VersionedTable.latestVersion(root)
    (root, v, ZoneMap.read(root, v, "ts_us").get)
  }

  private def mid(): Long = {
    val raw = Tables.raw(spark, dir, "events")
    val b = raw.select(Tables.micros(raw).as("ts_us"))
      .agg(min(col("ts_us")), max(col("ts_us"))).collect().head
    (b.getLong(0) + b.getLong(1)) / 2
  }

  test("unit routing: day-era files one day wide max, hour-era files one hour") {
    val (_, v, stats) = fixture()
    // empty v1, day-era INSERT v2, evolve (metadata-only — commits NO
    // version), hour-era INSERT v3
    assert(v === 3, s"evolve must not commit a version (head $v)")
    val dayEra = stats.filter(_._1.startsWith("files/dml_v2/"))
    val hourEra = stats.filter(_._1.startsWith("files/dml_v3/"))
    assert(dayEra.nonEmpty && hourEra.nonEmpty, s"eras: ${stats.keySet}")
    dayEra.foreach { case (f, (lo, hi)) =>
      assert(f.contains("/u="), s"$f missing the unit layer")
      assert(Math.floorDiv(lo, DayUs) === Math.floorDiv(hi, DayUs), s"$f spans days")
    }
    hourEra.foreach { case (f, (lo, hi)) =>
      assert(Math.floorDiv(lo, HourUs) === Math.floorDiv(hi, HourUs), s"$f spans hours")
    }
  }

  test("a 2-hour range spanning the boundary prunes both generations to O(units)") {
    val (_, _, stats) = fixture()
    val m = mid()
    val all = stats.keySet.toSeq
    val filters = Seq(
      GreaterThanOrEqual("ts_us", java.lang.Long.valueOf(m - HourUs)),
      LessThan("ts_us", java.lang.Long.valueOf(m + HourUs)))
    val kept = ZoneMap.prune(stats, "ts_us", filters, all)
    assert(kept.size < all.size, s"a 2-hour window must prune (${all.size} files)")
    // day era: the window's old half sits inside one day (≤ 2 files at
    // a midnight straddle); hour era: ≤ 2 hour files (+1 for boundary)
    val dayKept = kept.count(_.startsWith("files/dml_v2/"))
    val hourKept = kept.count(_.startsWith("files/dml_v3/"))
    assert(dayKept <= 2, s"day era kept $dayKept files for a ≤2-day-touching window")
    assert(hourKept <= 3, s"hour era kept $hourKept files for a 1-hour window")
  }

  test("evolved spec survives re-registration: the persisted line wins") {
    val root = VersionedTable.freshRoot(s"$dir#pe_respec")
    new java.io.File(root).mkdirs()
    VersionedTable.writeManifest(root, 1, Seq.empty)
    val rows = spark.range(0, 6)
      .select(col("id"), (lit(1700000000000000L) + col("id") * HourUs).as("ts_us"))
    GraftVtCatalog.registerPartitioned(spark, "pe_respec", root, rows.schema,
      "ts_us", DayUs)
    spark.sql(s"CALL graft_vt.evolve_partition('pe_respec', ${HourUs}L)").collect()
    // simulate a fresh session re-registering with the BIRTH unit — the
    // persisted spec history must win over the argument
    GraftVtCatalog.registerPartitioned(spark, "pe_respec", root, rows.schema,
      "ts_us", DayUs)
    rows.createOrReplaceTempView("pe_respec_src")
    spark.sql("INSERT INTO graft_vt.pe_respec SELECT * FROM pe_respec_src")
    val stats = ZoneMap.read(root, 2, "ts_us").get
    assert(stats.nonEmpty)
    stats.foreach { case (f, (lo, hi)) =>
      assert(Math.floorDiv(lo, HourUs) === Math.floorDiv(hi, HourUs),
        s"$f spans hours — re-registration reset the evolved spec")
    }
    // 6 rows across 6 distinct hours → 6 unit files
    assert(stats.size === 6, s"expected one file per hour, got ${stats.keySet}")
  }


  test("a table RENAME keeps the partition unit") {
    GraftVtCatalog.ensure(spark)
    Seq("pe_rn_a", "pe_rn_b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft_vt.$t"))
    val root = VersionedTable.freshRoot(s"$dir#pe_rn")
    Scratch.delete(new java.io.File(root))
    new java.io.File(root).mkdirs()
    VersionedTable.writeManifest(root, 1, Seq.empty)
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("val", LongType)))
    GraftVtCatalog.registerPartitioned(spark, "pe_rn_a", root, schema, "doc_id", 10L)
    // 6 rows over the units [0, 10), [10, 20), [20, 30) and [30, 40)
    val rows = "(1, 1), (2, 2), (11, 3), (12, 4), (21, 5), (31, 6)"
    def insertedUnits(t: String): Seq[String] = {
      spark.sql(s"INSERT INTO graft_vt.$t VALUES $rows")
      val v = VersionedTable.latestVersion(root)
      val before = VersionedTable.manifest(root, v - 1).toSet
      VersionedTable.manifest(root, v).filterNot(before).flatMap(ZoneMap.leafFiles(root, _))
    }
    val routed = insertedUnits("pe_rn_a")
    assert(routed.forall(_.contains("/u=")) &&
      routed.map(_.split("/u=")(1).takeWhile(_ != '/')).distinct.size == 4, s"$routed")
    spark.sql("ALTER TABLE graft_vt.pe_rn_a RENAME TO graft_vt.pe_rn_b")
    val renamed = insertedUnits("pe_rn_b")
    assert(renamed.forall(_.contains("/u=")) && renamed.size == routed.size,
      s"the renamed table stopped routing by unit: $renamed")
  }
  test("evolve on an unpartitioned table fails loudly") {
    val e = intercept[Exception] {
      spark.sql(s"CALL graft_vt.evolve_partition('no_such_pe_table', ${HourUs}L)").collect()
    }
    assert(e.getMessage.contains("not unit-partitioned") ||
      e.getMessage.contains("unknown"))
  }
}
