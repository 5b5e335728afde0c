package graft

import org.apache.spark.sql.functions.{col, length}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftVtCatalog, VersionedTable, VtBucket}

/** Storage-partitioned joins on bucketed versioned tables: the oracle
  * gate pins q_spj_join's numbers; this suite pins the PLAN — zero
  * shuffle exchanges when both sides share the bucket layout — plus
  * the bucket function itself, empty-bucket alignment, the
  * conf-disabled fallback (exchanges return, results identical), and
  * the write-path guards.
  */
class SpjSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001
  private val nB = 8

  private def base = graft.sources.Tables(spark, dir, "documents")
    .select(col("doc_id"), col("text"), col("source"))

  private def mkBucketed(name: String, df: org.apache.spark.sql.DataFrame,
      key: String = "doc_id"): String = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_spj_$name").toString
    VtBucket.writeBucketed(df, key, nB, s"$root/files/base_v1")
    VersionedTable.writeManifest(root, 1, Seq("files/base_v1"))
    GraftVtCatalog.registerBucketed(spark, name, root, df.schema, key, nB)
    root
  }

  private def joinDf() = {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.sql(
      """SELECT a.doc_id, a.source, b.n_chars
        |FROM graft_vt.spj_a a JOIN graft_vt.spj_b b ON a.doc_id = b.doc_id""".stripMargin)
  }

  private def setup(): Unit = {
    mkBucketed("spj_a", base)
    mkBucketed("spj_b", base.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars")))
  }

  test("bucket function: SQL-visible, matches the layout formula") {
    GraftVtCatalog.ensure(spark)
    val r = spark.sql("SELECT graft_vt.bucket(8, 13L) AS b, graft_vt.bucket(8, -3L) AS c")
      .collect().head
    assert(r.getInt(0) == 5)
    assert(r.getInt(1) == VtBucket.bucketOf(-3L, 8))
    assert(VtBucket.bucketOf(13L, 8) == 5)
  }

  test("equi-join of two same-bucketed tables plans with ZERO exchanges") {
    setup()
    val df = joinDf()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"storage-partitioned join must not shuffle, got:\n$plan")
    assert(df.count() == base.count())
  }

  test("results identical with bucketing disabled (shuffled fallback)") {
    setup()
    val fast = joinDf().collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    try {
      val slow = joinDf()
      // re-read conf: joinDf re-enables; force off for this plan
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val slowDf = spark.sql(
        """SELECT a.doc_id, a.source, b.n_chars
          |FROM graft_vt.spj_a a JOIN graft_vt.spj_b b ON a.doc_id = b.doc_id""".stripMargin)
      val plan = slowDf.queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"), s"disabled SPJ must shuffle:\n$plan")
      assert(slowDf.collect().map(_.toString).sorted.toSeq == fast)
      slow.collect(): Unit
    } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
  }

  test("empty buckets on one side still align: filtered table joins correctly") {
    setup()
    // only keys with doc_id % 8 == 2 → seven of eight buckets empty
    mkBucketed("spj_sparse", base.filter(col("doc_id") % 8 === 2)
      .select(col("doc_id"), col("source").as("src2")))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val df = spark.sql(
      """SELECT a.doc_id FROM graft_vt.spj_a a
        |JOIN graft_vt.spj_sparse s ON a.doc_id = s.doc_id""".stripMargin)
    assert(df.count() == base.filter(col("doc_id") % 8 === 2).count())
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("compatible bucket counts (16 vs 8) join shuffle-free via reduction") {
    setup() // spj_a at nB=8
    val wide = java.nio.file.Files.createTempDirectory("graft_spj_wide").toString
    val df16 = base.select(col("doc_id"), length(col("text")).cast("long").as("len16"))
    VtBucket.writeBucketed(df16, "doc_id", 16, s"$wide/files/base_v1")
    VersionedTable.writeManifest(wide, 1, Seq("files/base_v1"))
    GraftVtCatalog.registerBucketed(spark, "spj_wide", wide, df16.schema, "doc_id", 16)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set(
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "true")
    val df = spark.sql(
      """SELECT a.doc_id FROM graft_vt.spj_a a
        |JOIN graft_vt.spj_wide w ON a.doc_id = w.doc_id""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"divisible bucket counts must reduce, not shuffle:\n$plan")
    assert(df.count() == base.count())
    // an indivisible pair (8 vs 12) falls back to the shuffle, correctly
    val odd = java.nio.file.Files.createTempDirectory("graft_spj_odd").toString
    val df12 = base.select(col("doc_id"), length(col("text")).cast("long").as("len12"))
    VtBucket.writeBucketed(df12, "doc_id", 12, s"$odd/files/base_v1")
    VersionedTable.writeManifest(odd, 1, Seq("files/base_v1"))
    GraftVtCatalog.registerBucketed(spark, "spj_odd", odd, df12.schema, "doc_id", 12)
    val df2 = spark.sql(
      """SELECT a.doc_id FROM graft_vt.spj_a a
        |JOIN graft_vt.spj_odd o ON a.doc_id = o.doc_id""".stripMargin)
    assert(df2.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(df2.count() == base.count())
  }

  test("GROUP BY the bucket key aggregates without an exchange") {
    setup()
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val df = spark.sql(
      """SELECT doc_id, COUNT(*) AS n, MAX(n_chars) AS mx
        |FROM graft_vt.spj_b GROUP BY doc_id""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"aggregation keyed by the bucket key must not shuffle:\n$plan")
    assert(df.count() == base.count())
  }

  test("filters and pruning still work on bucketed scans") {
    setup()
    val df = spark.sql(
      "SELECT doc_id FROM graft_vt.spj_a WHERE doc_id BETWEEN 10 AND 19")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (10L to 19L).toSeq)
  }

  test("bucketed CTAS via PARTITIONED BY (bucket(n, key)), INSERT and DML keep the layout") {
    setup()
    base.createOrReplaceTempView("spj_write_src")
    spark.sql("DROP TABLE IF EXISTS graft_vt.spj_w")
    spark.sql(
      """CREATE TABLE graft_vt.spj_w PARTITIONED BY (bucket(8, doc_id)) AS
        |SELECT doc_id, text, source FROM spj_write_src WHERE doc_id < 100""".stripMargin)
    spark.sql(
      """INSERT INTO graft_vt.spj_w
        |SELECT doc_id, text, source FROM spj_write_src WHERE doc_id >= 100""".stripMargin)
    assert(spark.table("graft_vt.spj_w").count() == base.count())
    // every leaf file sits under a b=<i> layer, rows in the right bucket
    val root = GraftVtCatalog.rootOf("spj_w").get
    val v = graft.sources.VersionedTable.latestVersion(root)
    val leaves = VersionedTable.manifest(root, v)
      .flatMap(graft.sources.ZoneMap.leafFiles(root, _))
    assert(leaves.nonEmpty && leaves.forall(_.contains("/b=")),
      s"bucketed writes must land under b= dirs, got $leaves")
    leaves.groupBy(f => f.split("/").find(_.startsWith("b=")).get).foreach {
      case (bdir, fs) =>
        val b = bdir.stripPrefix("b=").toInt
        val bad = spark.read.parquet(fs.map(f => s"$root/$f"): _*)
          .filter(org.apache.spark.sql.functions.pmod(col("doc_id"), org.apache.spark.sql.functions.lit(8L)) =!= b)
          .count()
        assert(bad == 0, s"rows in $bdir with wrong bucket: $bad")
    }
    // DML through the routing writer keeps the layout and the data
    spark.sql("UPDATE graft_vt.spj_w SET source = 'routed' WHERE doc_id % 3 = 0")
    assert(spark.table("graft_vt.spj_w").count() == base.count())
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft_vt.spj_w WHERE source = 'routed'")
      .collect().head.getLong(0) == base.filter(col("doc_id") % 3 === 0).count())
    // and the rewritten table still joins shuffle-free
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val df = spark.sql(
      """SELECT a.doc_id FROM graft_vt.spj_w a
        |JOIN graft_vt.spj_b b ON a.doc_id = b.doc_id""".stripMargin)
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      "a DML-rewritten bucketed table must keep its SPJ capability")
    assert(df.count() == base.count())
  }

  test("null bucket keys and non-bigint keys fail loudly") {
    setup()
    base.createOrReplaceTempView("spj_write_src")
    spark.sql("DROP TABLE IF EXISTS graft_vt.spj_nulls")
    spark.sql(
      "CREATE TABLE graft_vt.spj_nulls (doc_id BIGINT, text STRING) PARTITIONED BY (bucket(4, doc_id))")
    intercept[Exception] {
      spark.sql("INSERT INTO graft_vt.spj_nulls VALUES (CAST(NULL AS BIGINT), 'x')")
    }: Unit
    intercept[Exception] {
      GraftVtCatalog.registerBucketed(spark, "spj_badkey",
        java.nio.file.Files.createTempDirectory("spj_bad").toString,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.StringType))), "k", 4)
    }: Unit
  }
}
