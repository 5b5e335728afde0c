package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.{GraftVtCatalog, VersionedTable}

/** Pins for `CALL graft_vt.clone` (q_sql_clone): the zero-copy claim
  * (hard links — shared inodes, no data bytes), divergence isolation in
  * both directions, and the vacuum-safety property the hard-link design
  * makes structural (unlinking a shared group on the source cannot
  * strand the clone — the filesystem refcounts the inodes).
  *
  * The destructive sections (DELETE on the source, vacuum) run on
  * SPEC-PRIVATE tables built fresh per invocation — never on the shared
  * `dml_clone_src`/`dml_clone_dst` pair that q_sql_clone's oracle
  * assumes holds the full `documents` relation (a suite-order-dependent
  * parity gate otherwise).
  */
class CloneSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private def sf = TestSpark.sf0001

  /** Fresh (src, dst) vt-table pair over `documents`; the sequence
    * suffix keeps re-runs in one JVM from tripping clone's
    * destination-exists refusal.
    */
  private def freshPair(): (String, String) = {
    val k = CloneSpec.seq.incrementAndGet()
    val src = s"clone_spec_src_$k"
    val base = sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val root = VersionedTable.freshRoot(s"$sf#$src")
    base.write.mode("overwrite").parquet(s"$root/files/base_v1")
    VersionedTable.writeManifest(root, 1, Seq("files/base_v1"))
    GraftVtCatalog.register(spark, src, root, base.schema)
    (src, s"clone_spec_dst_$k")
  }

  test("clone: hard-linked zero-copy, divergence isolated, vacuum-safe") {
    // the shared q_sql_clone pair is only READ here (sqlClone itself
    // inserts into the clone side — that is the query's own contract)
    val out = graft.operators.SqlDml.sqlClone(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("clone")._1 == out("src")._1 + 2, s"divergence accounting: $out")
    assert(out("clone")._2 == out("src")._2 + 900001L + 900002L)

    val srcRoot = GraftVtCatalog.rootOf("dml_clone_src").get
    val dstRoot = GraftVtCatalog.rootOf("dml_clone_dst").get
    assert(srcRoot != dstRoot)

    // zero-copy: every cloned v1 group file shares its inode with the
    // source original (hard link, not a byte copy)
    val groups = VersionedTable.manifest(dstRoot, 1)
    assert(groups.nonEmpty)
    var checked = 0
    groups.foreach { g =>
      val from = java.nio.file.Paths.get(s"$srcRoot/$g")
      scala.util.Using.resource(java.nio.file.Files.walk(from)) { walk =>
        walk.forEach { p =>
          if (!java.nio.file.Files.isDirectory(p)) {
            val twin = java.nio.file.Paths.get(s"$dstRoot/$g")
              .resolve(from.relativize(p))
            assert(java.nio.file.Files.exists(twin), s"missing clone twin for $p")
            assert(java.nio.file.Files.getAttribute(p, "unix:ino") ==
              java.nio.file.Files.getAttribute(twin, "unix:ino"),
              s"clone file is a copy, not a link: $twin")
            checked += 1
          }
        }
      }
    }
    assert(checked > 0, "no data files checked")

    // destructive half: spec-private tables only
    val (src, dst) = freshPair()
    spark.sql(s"CALL graft_vt.clone('$src', '$dst')").collect()

    // independence: a COW delete on the SOURCE must not move the clone
    val cloneBefore = spark.table(s"graft_vt.$dst").count()
    val srcBefore = spark.table(s"graft_vt.$src").count()
    spark.sql(s"DELETE FROM graft_vt.$src WHERE doc_id % 2 = 0")
    assert(spark.table(s"graft_vt.$src").count() < srcBefore)
    assert(spark.table(s"graft_vt.$dst").count() == cloneBefore,
      "source delete leaked into the clone")

    // vacuum-safety: dropping the source's retained history unlinks the
    // shared v1 group on the source side; the clone's links keep the
    // inodes alive and every clone row stays readable
    spark.sql(s"CALL graft_vt.vacuum('$src', 1)").collect()
    assert(spark.table(s"graft_vt.$dst").count() == cloneBefore,
      "vacuuming the source stranded the clone")
  }

  test("clone: refuses an existing destination and unknown sources") {
    val (src, dst) = freshPair()
    spark.sql(s"CALL graft_vt.clone('$src', '$dst')").collect()
    val dup = intercept[Exception](
      spark.sql(s"CALL graft_vt.clone('$src', '$dst')").collect())
    assert(dup.getMessage.contains("already exists"))
    val missing = intercept[Exception](
      spark.sql("CALL graft_vt.clone('no_such_table', 'clone_spec_x')").collect())
    assert(missing.getMessage.contains("unknown") ||
      missing.getMessage.contains("no_such_table"))
  }

  test("clone carries the constraint name and the partition unit") {
    GraftVtCatalog.ensure(spark)
    val k = CloneSpec.seq.incrementAndGet()
    val (src, dst) = (s"clone_ck_src_$k", s"clone_ck_dst_$k")
    val root = VersionedTable.freshRoot(s"$sf#$src")
    new java.io.File(root).mkdirs()
    VersionedTable.writeManifest(root, 1, Seq.empty)
    GraftVtCatalog.registerPartitioned(spark, src, root,
      StructType(Seq(StructField("doc_id", LongType), StructField("val", LongType))),
      "doc_id", 10L)
    spark.sql(s"ALTER TABLE graft_vt.$src ADD CONSTRAINT pos CHECK (val >= 0)")
    spark.sql(s"INSERT INTO graft_vt.$src VALUES (1, 1), (11, 2)")
    spark.sql(s"CALL graft_vt.clone('$src', '$dst')").collect()
    val dstRoot = GraftVtCatalog.rootOf(dst).get
    spark.sql(s"INSERT INTO graft_vt.$dst VALUES (3, 3), (21, 4), (31, 5)")
    val added = VersionedTable.manifest(dstRoot, 2)
      .filterNot(VersionedTable.manifest(dstRoot, 1).toSet)
      .flatMap(graft.sources.ZoneMap.leafFiles(dstRoot, _))
    assert(added.nonEmpty && added.forall(_.contains("/u=")),
      s"the clone stopped routing by unit: $added")
    intercept[Exception](spark.sql(s"INSERT INTO graft_vt.$dst VALUES (4, -1)"))
    spark.sql(s"ALTER TABLE graft_vt.$dst DROP CONSTRAINT pos")
    spark.sql(s"INSERT INTO graft_vt.$dst VALUES (4, -1)")
    assert(spark.table(s"graft_vt.$dst").count() == 6)
    // the source keeps its own constraint
    intercept[Exception](spark.sql(s"INSERT INTO graft_vt.$src VALUES (4, -1)"))
  }

  test("clone of a table with no data groups is an empty table") {
    GraftVtCatalog.ensure(spark)
    val k = CloneSpec.seq.incrementAndGet()
    val (src, dst) = (s"clone_empty_src_$k", s"clone_empty_dst_$k")
    spark.sql(s"CREATE TABLE graft_vt.$src (doc_id BIGINT, val BIGINT)")
    spark.sql(s"CALL graft_vt.clone('$src', '$dst')").collect()
    assert(spark.table(s"graft_vt.$dst").count() == 0)
  }

  test("clone copies the head's bloom sidecars") {
    val (src, dst) = freshPair()
    val root = GraftVtCatalog.rootOf(src).get
    graft.sources.BloomMap.analyze(spark, root, 1, "doc_id"): Unit
    GraftVtCatalog.registerBloomCols(src, Seq("doc_id"))
    spark.sql(s"CALL graft_vt.clone('$src', '$dst')").collect()
    val sidecars = new java.io.File(GraftVtCatalog.rootOf(dst).get).list().toSeq
    assert(sidecars.exists(_.startsWith("_bloom_v1_")), s"no bloom sidecar in $sidecars")
    assert(spark.sql(s"SHOW TBLPROPERTIES graft_vt.$dst").collect()
      .exists(r => r.getString(0) == "bloom_columns" && r.getString(1) == "doc_id"))
  }

  test("a second clone under a renamed clone's old name leaves the renamed one intact") {
    val (src, dst) = freshPair()
    spark.sql(s"CALL graft_vt.clone('$src', '$dst')").collect()
    spark.sql(s"INSERT INTO graft_vt.$dst VALUES (900001, 'only in the clone', 'clone')")
    val want = spark.table(s"graft_vt.$dst").count()
    spark.sql(s"ALTER TABLE graft_vt.$dst RENAME TO graft_vt.${dst}_kept")
    spark.sql(s"CALL graft_vt.clone('$src', '$dst')").collect()
    assert(spark.table(s"graft_vt.${dst}_kept").count() == want)
    assert(spark.table(s"graft_vt.$dst").count() == want - 1)
  }
}

object CloneSpec {
  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)
}
