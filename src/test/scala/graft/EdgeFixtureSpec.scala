package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, Relational}

/** The r7 review found three latent data-dependent behaviors that the
  * shipped testdata never exercises (no NULL values, no constant
  * classes, no single-event users). This spec builds a SYNTHETIC events
  * table containing exactly those shapes and pins the intended
  * semantics, so the operators' edge contracts no longer depend on what
  * the fixture happens to contain.
  */
class EdgeFixtureSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  /** Writes an events.parquet with the production layout (ts as long
    * nanos) into a fresh dir usable as a `Tables` sfDir.
    */
  private lazy val dir: String = {
    val s = spark
    import s.implicits._
    val h = 3600L * 1000 * 1000 * 1000 // one hour of nanos
    val t0 = 1700000000L * 1000000000L
    // (event_id, ts_nanos, user_id, event_type, value, props)
    val rows = Seq(
      // user 1: three active hours with a one-hour gap; hour t0+2h has
      // ONLY null-valued events (observed, but nothing to sum)
      (1L, t0, 1L, "view", Some(10.0), "{}"),
      (2L, t0 + 10, 1L, "view", Some(2.0), "{}"),
      (3L, t0 + 2 * h, 1L, "view", None, "{}"),
      (4L, t0 + 3 * h, 1L, "view", Some(7.0), "{}"),
      // user 2: a single event (singleton spine; scd2 single interval)
      (5L, t0 + 5 * h, 2L, "click", Some(1.0), "{}"),
      // user 3: state flip-flop for scd2 compaction (A A B A)
      (6L, t0 + 1, 3L, "view", Some(1.0), "{}"),
      (7L, t0 + 2, 3L, "view", Some(1.0), "{}"),
      (8L, t0 + 3, 3L, "click", Some(1.0), "{}"),
      (9L, t0 + 4, 3L, "view", Some(1.0), "{}"),
      // "purchase" is a CONSTANT class (sd = 0) and "signup" a singleton
      // (sd undefined) — neither may produce outliers or errors
      (10L, t0, 4L, "purchase", Some(5.0), "{}"),
      (11L, t0 + 1, 5L, "purchase", Some(5.0), "{}"),
      (12L, t0 + 2, 6L, "purchase", Some(5.0), "{}"),
      (13L, t0 + 3, 7L, "signup", Some(9.0), "{}"))
    val d = java.nio.file.Files.createTempDirectory("graft-edge-").toFile
    d.deleteOnExit()
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${d.getAbsolutePath}/events.parquet")
    d.getAbsolutePath
  }

  test("outliers: constant and singleton classes yield no rows and no error") {
    val byType = Relational.outlierEvents(spark, dir).collect()
      .groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(!byType.contains("purchase"), s"sd=0 class flagged: $byType")
    assert(!byType.contains("signup"), s"singleton class flagged: $byType")
  }

  test("gap fill: all-NULL hour is observed; gap hour is not; LOCF carries across both") {
    val u1 = Analytics.gapFillHourly(spark, dir).collect()
      .filter(_.getLong(0) == 1L)
      .sortBy(_.getTimestamp(1).getTime)
      .map(r => (Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3)))
    // hours: t0 (12.0, observed), t0+1h (gap), t0+2h (null sum, OBSERVED),
    // t0+3h (7.0, observed) — 4 spine rows
    assert(u1.length == 4, s"expected a 4-hour spine, got ${u1.toSeq}")
    assert(u1(0) == (Some(12.0), true))
    assert(u1(1) == (Some(12.0), false), "gap hour must carry 12.0, unobserved")
    assert(u1(2) == (Some(12.0), true),
      "the all-NULL-value hour HAS events: observed, value carried forward")
    assert(u1(3) == (Some(7.0), true))
  }

  test("gap fill: singleton user gets a one-row spine") {
    val u2 = Analytics.gapFillHourly(spark, dir).collect().filter(_.getLong(0) == 2L)
    assert(u2.length == 1 && u2(0).getBoolean(3) && u2(0).getDouble(2) == 1.0)
  }

  test("scd2: flip-flop compacts runs only (A A B A -> A B A); singleton is current") {
    val rows = Analytics.scd2UserState(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.time.LocalDateTime](2), r.getBoolean(4)))
    val u3 = rows.filter(_._1 == 3L).sortWith((a, b) => a._3.isBefore(b._3))
      .map(r => (r._2, r._4)).toSeq
    assert(u3 == Seq(("view", false), ("click", false), ("view", true)),
      s"flip-flop history wrong: $u3")
    assert(rows.filter(_._1 == 2L).map(r => (r._2, r._4)).toSeq == Seq(("click", true)))
  }

  test("markov: singleton users emit no bigram; flip-flop counts every step") {
    val rows = Analytics.markovTransitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // users 4-7 and 2 are single-event: only users 1 (view×4) and
    // 3 (view view click view) produce bigrams
    assert(rows == Map(
      ("view", "view") -> 4L,   // u1: 3 steps + u3: view→view
      ("view", "click") -> 1L,  // u3
      ("click", "view") -> 1L)) // u3
  }

  test("ewma: null values drop; singleton series returns its own value") {
    val rows = Analytics.ewmaUserValues(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // u1's null-valued event 3 must not appear (no NaN propagation)
    assert(!rows.exists(_._2 == 3L), "null-valued event leaked into the fold")
    val u1 = rows.filter(_._1 == 1L).sortBy(_._2).map(_._3).toSeq
    assert(u1 == Seq(10.0, 0.25 * 2.0 + 0.75 * 10.0,
      0.25 * 7.0 + 0.75 * (0.25 * 2.0 + 0.75 * 10.0)))
    assert(rows.filter(_._1 == 2L).map(_._3).toSeq == Seq(1.0))
  }

  test("pit join: the single purchase maps to its own interval start") {
    val got = Analytics.pitEnrichedPurchases(spark, dir).collect()
    // fixture purchases: events 10-12 (users 4-6) — each user's ONLY
    // event, so each starts its own current interval
    assert(got.length == 3)
    val tsByUser = graft.sources.Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase").collect()
      .map(r => r.getAs[Long]("user_id") ->
        r.getAs[java.time.LocalDateTime]("ts")).toMap
    got.foreach { r =>
      assert(r.getString(3) == "purchase", s"state_at: $r")
      val uid = r.getLong(1)
      assert(Set(4L, 5L, 6L)(uid), s"unexpected user: $r")
      // inclusive start: the version STARTING at the purchase's own ts
      // is the one valid at it — not merely any purchase-typed version
      assert(r.getAs[java.time.LocalDateTime](4) == tsByUser(uid),
        s"state_since must be the event's own ts: $r")
    }
  }

  test("interval union: transitive chains merge into one island; gaps split") {
    val got = Analytics.intervalUnion(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // user 3: four events 1 ns apart — a transitive overlap CHAIN that
    // must merge into ONE island (the shape a pairwise overlap join
    // cannot close without iteration); covered = 15 min + 3 ns
    assert(got(3L)._1 == 1L, s"chain not merged: ${got(3L)}")
    assert(math.abs(got(3L)._2 - 900.0) < 1e-6)
    // user 1: t0/t0+10ns overlap; t0+2h and t0+3h are separate islands
    // (15-min windows close long before the next hour arrives)
    assert(got(1L)._1 == 3L, s"expected 3 islands: ${got(1L)}")
    assert(math.abs(got(1L)._2 - 2700.0) < 1e-6)
    // singleton users: one island of exactly the window length
    Seq(2L, 4L, 5L, 6L, 7L).foreach { u =>
      assert(got(u) == ((1L, 900.0)), s"user $u: ${got(u)}")
    }
  }

  test("mad outliers: constant class (MAD = 0) yields no rows and no error") {
    val byType = Relational.madOutlierEvents(spark, dir).collect()
      .groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(!byType.contains("purchase"), s"MAD=0 class flagged: $byType")
    assert(!byType.contains("signup"), s"singleton class flagged: $byType")
  }

  /** A second fixture for the nonparametric-test guards: constant
    * values (ties collapse the variance) and an events table whose
    * users all land in ONE experiment arm.
    */
  private def writeEvents(rows: Seq[(Long, Long, Long, String, Option[Double], String)]): String = {
    val s = spark
    import s.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-edge2-").toFile
    d.deleteOnExit()
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${d.getAbsolutePath}/events.parquet")
    d.getAbsolutePath
  }

  test("ks/mwu: constant values give D = 0 and NULL z (zero variance), no ANSI error") {
    val t0 = 1700000000L * 1000000000L
    val const = writeEvents((1L to 6L).map(i =>
      (i, t0 + i, i, "view", Some(5.0), "{}")))
    val ks = graft.operators.Stats.ksTest(spark, const).collect().head
    assert(ks.getDouble(2) == 0.0, "identical distributions must give D = 0")
    val mwu = graft.operators.Stats.mannWhitneyU(spark, const).collect().head
    assert(mwu.isNullAt(3), "all-tied sample has zero variance: z must be NULL")
  }

  test("ks/mwu: a one-arm log yields NULL statistics, not a divide-by-zero error") {
    val t0 = 1700000000L * 1000000000L
    // all users odd → arm A (even user_id) is empty
    val oneArm = writeEvents(Seq(1L, 3L, 5L).zipWithIndex.map { case (u, i) =>
      (i.toLong + 1, t0 + i, u, "view", Some(i * 2.0), "{}") })
    val ks = graft.operators.Stats.ksTest(spark, oneArm).collect().head
    assert(ks.getLong(0) == 0 && ks.isNullAt(2), "empty arm: ks_d must be NULL")
    val mwu = graft.operators.Stats.mannWhitneyU(spark, oneArm).collect().head
    assert(mwu.getLong(0) == 0 && mwu.isNullAt(3), "empty arm: z must be NULL")
  }

  test("exact rate test: a log with zero purchases reports margins with NULL p, no error") {
    val t0 = 1700000000L * 1000000000L
    val noPurchase = writeEvents(Seq(1L, 2L, 3L).zipWithIndex.map { case (u, i) =>
      (i.toLong + 1, t0 + i, u, "view", Some(1.0), "{}") })
    // n = ca + cb = 0: the outcome axis is empty and the conditioned
    // test is undefined — the verb must degrade to the one margins row
    // (global aggregate over the empty mass) with NULL statistics,
    // never a range/join error
    val r = graft.operators.Stats.exactRateTest(spark, noPurchase).collect().head
    assert(r.getAs[Long]("events_a") == 0 && r.getAs[Long]("events_b") == 0)
    assert(r.getAs[Long]("n_outcomes") == 0)
    assert(r.isNullAt(r.fieldIndex("p_two_sided")))
    assert(r.isNullAt(r.fieldIndex("rate_ratio")))
  }

  /** q_theta_overlap's answer as scope -> est_users, next to Spark's
    * exact COUNT(DISTINCT) / INTERSECT / UNION answer over the same dir.
    */
  private def thetaVsExact(dir: String): (Map[String, Double], Map[String, Double]) = {
    val got = Relational.thetaSegmentOverlap(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ev = graft.sources.Tables(spark, dir, "events")
    def users(t: String) = ev.filter(col("event_type") === t).select("user_id").distinct()
    val (p, c) = (users("purchase"), users("click"))
    val exact = Map("purchase" -> p.count(), "click" -> c.count(),
      "both" -> p.intersect(c).count(), "either" -> p.union(c).distinct().count())
    (got, exact.map { case (k, v) => k -> v.toDouble })
  }

  test("theta overlap: purchases and no clicks give click = 0 and both = 0") {
    val t0 = 1700000000L * 1000000000L
    // 4 purchasing users (one buys twice) plus a viewer who never clicks
    val oneSided = writeEvents(Seq(1L, 2L, 3L, 4L, 2L, 9L).zipWithIndex.map { case (u, i) =>
      (i.toLong + 1, t0 + i, u, if (u == 9L) "view" else "purchase", Some(1.0), "{}") })
    val (got, exact) = thetaVsExact(oneSided)
    assert(got == Map("purchase" -> 4.0, "click" -> 0.0, "both" -> 0.0, "either" -> 4.0))
    assert(got == exact)
  }

  test("theta overlap: no purchase or click rows give four 0.0 rows, not an error") {
    val t0 = 1700000000L * 1000000000L
    val viewsOnly = writeEvents(Seq(1L, 2L).zipWithIndex.map { case (u, i) =>
      (i.toLong + 1, t0 + i, u, "view", Some(1.0), "{}") })
    val (got, exact) = thetaVsExact(viewsOnly)
    assert(got == Map("purchase" -> 0.0, "click" -> 0.0, "both" -> 0.0, "either" -> 0.0))
    assert(got == exact)
  }

  test("kll quantiles: all-null values give one global row with null quantiles") {
    val t0 = 1700000000L * 1000000000L
    val noValues = writeEvents(Seq("view", "click", "purchase").zipWithIndex.map { case (t, i) =>
      (i.toLong + 1, t0 + i, i.toLong + 1, t, None, "{}") })
    val rows = Relational.kllQuantileRollup(spark, noValues).collect()
    assert(rows.length == 1, rows.toSeq)
    assert(rows.head.getString(0) == "all" && (1 to 3).forall(rows.head.isNullAt))
  }

  test("pca: a degenerate (constant-embedding) corpus fails loudly, not with NaNs") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pca_edge").toString
    Seq.tabulate(4)(i => (i.toLong, Seq.fill(8)(1.0f), i % 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // zero covariance everywhere → non-positive trace: the squaring
    // normalization would divide by zero; the contract is a loud
    // require, not a silent NaN projection
    val e = intercept[IllegalArgumentException](
      graft.operators.Similarity.pcaProject(spark, dir).collect())
    assert(e.getMessage.contains("trace"), s"wanted the trace guard, got: ${e.getMessage}")
  }
}
