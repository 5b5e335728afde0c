package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streaming

/** Exactly-once of the versioned-table streaming sink, driven through
  * the crash path foreachBatch actually takes: at-least-once delivery
  * means a batch can be REPLAYED after a crash; the sink must make the
  * replay a no-op (batchId-transactional manifest commit).
  */
class VtSinkReplaySpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def batchDf(rows: Seq[(Long, Long, Double, Long)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("user_id", "last_event_id", "last_value", "__ts")
  }

  private def state(root: String): Set[(Long, Long, Double)] = {
    val v = graft.sources.VersionedTable.latestVersion(root)
    graft.sources.VersionedTable.readVersion(spark, root, v)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("replayed batch is a committed no-op; fresh batch still advances") {
    val root = java.nio.file.Files.createTempDirectory("graft_vtsink_spec").toString
    // batch 0: users 1, 2
    assert(Streaming.commitBatchToVt(root,
      batchDf(Seq((1L, 10L, 1.0, 100L), (2L, 20L, 2.0, 100L))), 0L))
    // batch 1: user 2 newer, user 3 new
    assert(Streaming.commitBatchToVt(root,
      batchDf(Seq((2L, 21L, 2.5, 200L), (3L, 30L, 3.0, 200L))), 1L))
    val committed = state(root)
    assert(committed == Set((1L, 10L, 1.0), (2L, 21L, 2.5), (3L, 30L, 3.0)))

    // CRASH REPLAY: batch 1 redelivered — must refuse and change nothing,
    // even when redelivered content would merge differently now
    assert(!Streaming.commitBatchToVt(root,
      batchDf(Seq((2L, 99L, 9.9, 999L))), 1L), "replay must be a no-op")
    assert(state(root) == committed, "replay must not move the table")
    assert(graft.sources.VersionedTable.latestVersion(root) == 2)

    // an orphan group from a crash BETWEEN group write and manifest
    // commit is never referenced — readers see only committed versions
    new java.io.File(s"$root/files/merge_v99").mkdirs()
    assert(state(root) == committed)

    // the NEXT real batch still advances past the orphan
    assert(Streaming.commitBatchToVt(root,
      batchDf(Seq((1L, 11L, 1.5, 300L))), 2L))
    assert(state(root) == Set((1L, 11L, 1.5), (2L, 21L, 2.5), (3L, 30L, 3.0)))
  }

  test("vt sink stream equals the directory-swap sibling's state") {
    val a = Streaming.vtSinkLatestEvents(spark, TestSpark.sf0001)
      .collect().map(_.toString).sorted
    val b = Streaming.upsertSinkLatestEvents(spark, TestSpark.sf0001)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
    assert(Streaming.lastReplayBatchCount >= 3, "merge must span multiple micro-batches")
  }
}
