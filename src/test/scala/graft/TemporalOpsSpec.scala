package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, Relational}
import graft.sources.Tables

/** Semantics + plan shape of the temporal/reshape verbs added late in
  * round 7: SCD Type-2 interval building, time-spine gap filling with
  * LOCF, and wide→long unpivot. (The DuckDB gate pins full-result
  * equality; these pin the invariants that hold at any scale and the
  * plan claims the Scaladoc makes.)
  */
class TemporalOpsSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def dir = TestSpark.sf0001

  test("scd2: intervals tile each user's history, states compact, one current row") {
    val rows = Analytics.scd2UserState(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[java.time.LocalDateTime](2),
        Option(r.getAs[java.time.LocalDateTime](3)), r.getBoolean(4)))
    assert(rows.nonEmpty)
    val firstTs = Tables(spark, dir, "events")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0")).collect()
      .map(r => r.getLong(0) -> r.getAs[java.time.LocalDateTime](1)).toMap
    rows.groupBy(_._1).foreach { case (uid, hist0) =>
      val hist = hist0.sortWith((a, b) => a._3.isBefore(b._3))
      // exactly one open interval, and it is the last
      assert(hist.count(_._4.isEmpty) == 1)
      assert(hist.last._4.isEmpty && hist.last._5)
      assert(hist.init.forall(h => h._4.nonEmpty && !h._5))
      // intervals tile: valid_to == next valid_from, no gaps or overlap
      hist.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.contains(b._3), s"user $uid: interval gap ${a._4} -> ${b._3}")
          // consecutive same-state rows must have compacted away
          assert(a._2 != b._2, s"user $uid: uncompacted state run '${a._2}'")
        case _ => ()
      }
      // history starts at the user's first event
      assert(hist.head._3 == firstTs(uid))
    }
  }

  test("scd2: lag filter and lead share ONE exchange + sort") {
    val plan = Analytics.scd2UserState(spark, dir).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 user_id exchange, got $exchanges in:\n$plan")
    val sorts = "\\+- Sort \\[user_id".r.findAllIn(plan).size
    assert(sorts == 1, s"expected the two windows to share 1 sort, got $sorts in:\n$plan")
  }

  test("gap fill: spine is dense per user and fill carries the last observation") {
    val rows = Analytics.gapFillHourly(spark, dir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
        r.getBoolean(3)))
    assert(rows.nonEmpty && rows.exists(!_._4), "no gaps in the fixture — test is vacuous")
    rows.groupBy(_._1).foreach { case (uid, hrs0) =>
      val hrs = hrs0.sortBy(_._2.getTime)
      // dense hourly spine from first to last active hour
      hrs.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._2.getTime - a._2.getTime == 3600 * 1000L,
            s"user $uid: spine hole between ${a._2} and ${b._2}")
        case _ => ()
      }
      // span endpoints are real observations by construction
      assert(hrs.head._4 && hrs.last._4)
      // LOCF: an unobserved hour carries the previous row's filled value
      hrs.sliding(2).foreach {
        case Array(a, b) if !b._4 =>
          assert(b._3 == a._3, s"user $uid @ ${b._2}: filled ${b._3} != carried ${a._3}")
        case _ => ()
      }
      assert(hrs.forall(_._3.nonEmpty), s"user $uid: null filled value after first observation")
    }
  }

  test("unpivot: melt is a narrow Expand — no join, no extra exchange") {
    val df = Relational.unpivotOrderMetrics(spark, dir)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("Expand"), s"no Expand in:\n$optimized")
    assert(!optimized.contains("Join"), s"unpivot planned a join:\n$optimized")
    // one exchange: the feeding aggregation's — the melt itself adds none
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected only the aggregation exchange, got $exchanges in:\n$plan")
    val rows = df.collect()
    val nPriorities = rows.map(_.getString(0)).distinct.length
    assert(rows.length == nPriorities * 3)
    assert(rows.map(_.getString(1)).distinct.sorted.toSeq ==
      Seq("max_price", "n_orders", "total_price"))
  }

  test("session_window: the native session operator equals the islands sessionize") {
    import java.time.LocalDateTime
    val native = Analytics.sessionWindowCounts(spark, dir).collect()
      .map(r => (r.getLong(0), r.getAs[LocalDateTime]("session_start"),
        r.getAs[LocalDateTime]("session_end"), r.getLong(3))).toSet
    val islands = Analytics.sessionize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getAs[LocalDateTime]("session_start"),
        r.getAs[LocalDateTime]("session_end").plusMinutes(30), r.getLong(4))).toSet
    assert(native == islands,
      s"native ${native.size} sessions vs islands ${islands.size}")
  }

  test("interval join: grid candidates equal the brute non-equi join, no dup pairs") {
    val got = Analytics.intervalOverlapJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the grid-dedup trick must emit each overlapping pair exactly once
    assert(got.map(t => (t._1, t._2, t._3)).distinct.length == got.length,
      "grid join duplicated a pair")
    val raw = Tables.raw(spark, dir, "events")
    val iv = raw.filter(col("event_type").isin("view", "click"))
      .select(col("event_type"), col("user_id"), col("event_id"),
        Tables.micros(raw).as("s"))
      .withColumn("e", col("s") + (pmod(col("event_id"), lit(240)) + 60) * 1000000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val brute = (for {
      (ta, ua, ia, sa, ea) <- iv if ta == "view"
      (tb, ub, ib, sb, eb) <- iv if tb == "click" && ub == ua
      if sa <= eb && sb <= ea
    } yield (ua, ia, ib, math.min(ea, eb) - math.max(sa, sb))).toSet
    assert(got.toSet == brute, s"grid join ${got.length} pairs vs brute ${brute.size}")
  }
}
