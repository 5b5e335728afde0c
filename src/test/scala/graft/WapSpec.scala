package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable

/** Write-audit-publish: the contract is that BAD DATA NEVER BECOMES A
  * READABLE VERSION — staged manifests are invisible to readers, a
  * failed audit discards (cleaning only staged-unique groups), and
  * publish is one-winner atomic.
  */
class WapSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  test("staged version is invisible; failed audit discards only its own groups") {
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_wap_spec").toString
    Seq((1L, "good"), (2L, "fine")).toDF("id", "text")
      .write.parquet(s"$root/files/cold_v1")
    VersionedTable.writeManifest(root, 1, Seq("files/cold_v1"))

    // stage a refresh that REUSES the cold group and adds a bad group
    Seq((3L, "")).toDF("id", "text").write.parquet(s"$root/files/bad_v2")
    VersionedTable.stage(root, 2, Seq("files/cold_v1", "files/bad_v2"))

    // staged is invisible to readers of the table
    assert(graft.sources.VersionedTable.latestVersion(root) == 1)
    // the audit sees the staged rows and fails the gate
    val violations = VersionedTable.readStaged(spark, root, 2)
      .filter("length(text) = 0").count()
    assert(violations == 1)

    VersionedTable.discardStaged(root, 2)
    assert(!new java.io.File(s"$root/files/bad_v2").exists(),
      "staged-only group must be deleted")
    assert(new java.io.File(s"$root/files/cold_v1").exists(),
      "group shared with published v1 must survive")
    assert(graft.sources.VersionedTable.latestVersion(root) == 1)
    assert(VersionedTable.readVersion(spark, root, 1).count() == 2)
  }

  test("publish is one-winner: a second publish of the version conflicts") {
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_wap_race").toString
    Seq((1L, "a")).toDF("id", "text").write.parquet(s"$root/files/g1")
    VersionedTable.writeManifest(root, 1, Seq("files/g1"))
    Seq((2L, "b")).toDF("id", "text").write.parquet(s"$root/files/g2")
    VersionedTable.stage(root, 2, Seq("files/g1", "files/g2"))
    VersionedTable.publish(root, 2)
    assert(graft.sources.VersionedTable.latestVersion(root) == 2)
    // a racing writer staged the same target version
    VersionedTable.stage(root, 2, Seq("files/g1"))
    intercept[java.util.ConcurrentModificationException] {
      VersionedTable.publish(root, 2)
    }
  }
}
