package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard: no query may plan a CartesianProduct,
  * and BroadcastNestedLoopJoin is allowed only where it is the designed
  * shape (tiny broadcast side scored against every corpus row). Guards
  * the 100 TB posture against an accidental join-condition regression
  * silently turning a candidate join into an all-pairs product.
  */
class PlanShapeSpec extends AnyFunSuite {

  // a build that runs Spark jobs (stream replays, roundtrip writes,
  // iterative training) is covered by its query's own suite; this spec
  // audits every lazily-planned query
  private val lazilyPlanned =
    SparkEntry.registry.filterNot(q => q.eager || SparkEntry.streamTier(q.name))

  // the queries whose operators call Tables.spread: on the one-file
  // testdata tables each plans a keyless round-robin exchange, and no
  // other lazily-planned query plans one
  private val spreads = Set(
    "q_audio_decode", "q_audio_features", "q_audio_spectrum", "q_bootstrap_ci",
    "q_compression_ratio", "q_dsir_resample", "q_image_decode", "q_image_resize",
    "q_jpeg_ac_decode", "q_jpeg_decode", "q_lm_score", "q_minhash_neardups",
    "q_minhash_sig", "q_phash", "q_source_overlap", "q_video_frames")

  lazilyPlanned.foreach { q =>
    test(s"${q.name} plans without cartesian products") {
      val plan = q.build(TestSpark.spark, TestSpark.sf0001).queryExecution.sparkPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name} plans a CartesianProduct")
      if (!q.bnlj)
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"${q.name} plans an unexpected BroadcastNestedLoopJoin")
      assert(plan.contains("RoundRobinPartitioning") == spreads(q.name),
        s"${q.name}: input spread ${if (spreads(q.name)) "missing" else "unexpected"}")
    }
  }

  test("every pinned input-spread query is lazily planned") {
    assert(spreads -- lazilyPlanned.map(_.name) == Set.empty)
  }

  test("brute-force top-k plans no Window over the scored corpus") {
    // knnBrute / matryoshkaEval score corpus × nQueries rows with only
    // nQueries distinct ranking keys — a row_number window there funnels
    // the whole corpus through nQueries sort tasks (r11 verdict #1). The
    // ranking must be the bounded TopKAggregator (ObjectHashAggregate
    // with map-side partials), never a Window sort.
    Seq("q_knn_brute", "q_matryoshka_eval").foreach { name =>
      val plan = SparkEntry.queries(name)(TestSpark.spark, TestSpark.sf0001)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("Window"),
        s"$name must rank via the bounded top-k aggregate, not a Window over the scored corpus")
    }
  }

  test("q_target_encode plans no Window over the events log") {
    // per-category sum/count must come from groupBy + broadcast join
    // back — a Window.partitionBy(event_type) over the full log funnels
    // each category's entire partition through one task at scale
    val qe = SparkEntry.queries("q_target_encode")(TestSpark.spark, TestSpark.sf0001)
      .queryExecution
    assert(!qe.sparkPlan.toString.contains("Window"),
      "q_target_encode must not plan a Window over the events relation")
    assert(qe.sparkPlan.toString.contains("BroadcastHashJoin") ||
      qe.executedPlan.toString.contains("BroadcastHashJoin"),
      "q_target_encode should broadcast the per-category stats back onto the log")
  }
}
