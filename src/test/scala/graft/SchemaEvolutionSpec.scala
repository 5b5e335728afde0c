package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftVtCatalog, VersionedTable}

/** Metadata-only RENAME / DROP / re-ADD COLUMN on the versioned table:
  * the oracle gate pins the end state; this suite pins the CONTRACT —
  * no file is rewritten by any ALTER, renamed columns read the old
  * physical bytes, dropped-then-re-added columns read NULL (never the
  * old files' values — the resurrection guard), filters on renamed
  * columns still prune at the parquet level, and guarded changes fail
  * loudly.
  */
class SchemaEvolutionSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  /** Fresh single-version docs table under a private root. */
  private def freshTable(name: String): String = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_evo_$name").toString
    val base = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    base.write.mode("overwrite").parquet(s"$root/files/base_v1")
    VersionedTable.writeManifest(root, 1, Seq("files/base_v1"))
    GraftVtCatalog.register(spark, name, root, base.schema)
    root
  }

  private def fileState(root: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$root/files"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("RENAME COLUMN rewrites no file and reads the original bytes") {
    val root = freshTable("evo_rename")
    val before = fileState(root)
    spark.sql("ALTER TABLE graft_vt.evo_rename RENAME COLUMN text TO body")
    assert(fileState(root) == before, "ALTER must not touch data files")
    val viaBody = spark.sql(
      "SELECT md5(CAST(body AS BINARY)) AS d FROM graft_vt.evo_rename ORDER BY doc_id")
      .collect().map(_.getString(0)).toSeq
    val direct = spark.read.parquet(s"$root/files/base_v1")
      .selectExpr("md5(CAST(text AS BINARY)) AS d", "doc_id")
      .orderBy("doc_id").collect().map(_.getString(0)).toSeq
    assert(viaBody == direct)
    // the old name is gone from the logical surface
    intercept[Exception] {
      spark.sql("SELECT text FROM graft_vt.evo_rename").collect()
    }: Unit
  }

  test("filters and pruning still reach parquet through the rename veneer") {
    freshTable("evo_pushdown")
    spark.sql("ALTER TABLE graft_vt.evo_pushdown RENAME COLUMN doc_id TO id")
    val df = spark.sql("SELECT id FROM graft_vt.evo_pushdown WHERE id BETWEEN 10 AND 19")
    val ids = df.collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (10L to 19L).toSeq)
    // column pruning: the physical plan's relation output must carry
    // only the one (renamed) column, not the full row
    val scanLine = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("BatchScan")).getOrElse("")
    assert(!scanLine.contains("text"), s"pruned scan must not read text: $scanLine")
  }

  test("DROP then re-ADD never resurrects old values; writes land on the fresh column") {
    val root = freshTable("evo_readd")
    spark.sql("ALTER TABLE graft_vt.evo_readd DROP COLUMN source")
    spark.sql("ALTER TABLE graft_vt.evo_readd ADD COLUMNS (source STRING)")
    // base files still hold physical 'source' values — they must read NULL
    val vals = spark.sql("SELECT source FROM graft_vt.evo_readd").collect()
    assert(vals.forall(_.isNullAt(0)),
      "re-added column must start NULL, not resurrect dropped data")
    // a COW write through the evolved schema lands on the fresh physical
    // name, leaving the retired one untouched in new files
    spark.sql("UPDATE graft_vt.evo_readd SET source = 'fresh' WHERE doc_id % 2 = 0")
    val after = spark.sql(
      "SELECT source, COUNT(*) AS n FROM graft_vt.evo_readd GROUP BY source")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toMap
    assert(after.keySet == Set(Some("fresh"), None))
    val latest = graft.sources.VersionedTable.latestVersion(root)
    val physical = spark.read.parquet(
      VersionedTable.manifest(root, latest).map(g => s"$root/$g"): _*)
    assert(physical.schema.fieldNames.contains("source__r2"),
      s"re-added column needs a fresh physical name, got ${physical.schema.fieldNames.toSeq}")
  }

  test("rename then rename back round-trips") {
    freshTable("evo_roundtrip")
    spark.sql("ALTER TABLE graft_vt.evo_roundtrip RENAME COLUMN text TO body")
    spark.sql("ALTER TABLE graft_vt.evo_roundtrip RENAME COLUMN body TO text")
    val n = spark.sql(
      "SELECT COUNT(*) FROM graft_vt.evo_roundtrip WHERE length(text) > 0")
      .collect().head.getLong(0)
    assert(n > 0)
  }

  test("cluster column and MOR tables are guarded") {
    import graft.sources.ZoneMap
    val root = java.nio.file.Files.createTempDirectory("graft_evo_guard").toString
    val base = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    base.write.mode("overwrite").parquet(s"$root/files/base_v1")
    VersionedTable.writeManifest(root, 1, Seq("files/base_v1"))
    ZoneMap.analyze(spark, root, 1, "doc_id"): Unit
    GraftVtCatalog.register(spark, "evo_guard", root, base.schema,
      clusterCol = Some("doc_id"))
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_vt.evo_guard RENAME COLUMN doc_id TO id")
    }: Unit
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_vt.evo_guard DROP COLUMN doc_id")
    }: Unit
    // non-cluster columns on a clustered table still evolve fine, and
    // the zone-map scan path reads through the mapping
    spark.sql("ALTER TABLE graft_vt.evo_guard RENAME COLUMN text TO body")
    val n = spark.sql(
      "SELECT COUNT(*) FROM graft_vt.evo_guard WHERE doc_id < 50 AND length(body) > 0")
      .collect().head.getLong(0)
    assert(n > 0)
  }

  test("ALTER COLUMN TYPE widening is metadata-only; old int32 files up-cast on read") {
    val root = java.nio.file.Files.createTempDirectory("graft_evo_widen").toString
    val base = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id").cast("int").as("doc_id"),
        org.apache.spark.sql.functions.length(col("text")).cast("int").as("n_chars"))
    base.write.mode("overwrite").parquet(s"$root/files/base_v1")
    VersionedTable.writeManifest(root, 1, Seq("files/base_v1"))
    GraftVtCatalog.register(spark, "evo_widen", root, base.schema)
    val before = fileState(root)
    spark.sql("ALTER TABLE graft_vt.evo_widen ALTER COLUMN n_chars TYPE BIGINT")
    assert(fileState(root) === before, "widening must rewrite no file")
    val sch = spark.table("graft_vt.evo_widen").schema
    assert(sch("n_chars").dataType === org.apache.spark.sql.types.LongType)
    // the old int32 file reads through the widened schema: values intact
    val expect = base.agg(org.apache.spark.sql.functions.sum(col("n_chars").cast("long")))
      .collect().head.getLong(0)
    val got = spark.sql("SELECT SUM(n_chars) FROM graft_vt.evo_widen")
      .collect().head.getLong(0)
    assert(got === expect)
    // re-running the same widen is a no-op, not an error
    spark.sql("ALTER TABLE graft_vt.evo_widen ALTER COLUMN n_chars TYPE BIGINT")
  }

  test("narrowing and lossy type changes are refused loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft_evo_narrow").toString
    val base = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    base.write.mode("overwrite").parquet(s"$root/files/base_v1")
    VersionedTable.writeManifest(root, 1, Seq("files/base_v1"))
    GraftVtCatalog.register(spark, "evo_narrow", root, base.schema)
    // long→int and string→bigint both die at ANALYSIS (Spark's
    // canUpCast gate) — the catalog guard behind it is defense-in-depth
    // for up-castable-but-unsupported promotions (e.g. int→decimal)
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_vt.evo_narrow ALTER COLUMN doc_id TYPE INT")
    }: Unit
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_vt.evo_narrow ALTER COLUMN text TYPE BIGINT")
    }: Unit
    // int→decimal passes Spark's canUpCast but the parquet promotion
    // contract here is integral/float/decimal-precision only — the
    // catalog refuses it with the WIDENING message
    val base2 = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id").cast("int").as("doc_id"), col("text"))
    val root2 = java.nio.file.Files.createTempDirectory("graft_evo_narrow2").toString
    base2.write.mode("overwrite").parquet(s"$root2/files/base_v1")
    VersionedTable.writeManifest(root2, 1, Seq("files/base_v1"))
    GraftVtCatalog.register(spark, "evo_narrow2", root2, base2.schema)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft_vt.evo_narrow2 ALTER COLUMN doc_id TYPE DECIMAL(12,0)")
    }
    assert(e.getMessage.contains("WIDENING"))
  }
}
