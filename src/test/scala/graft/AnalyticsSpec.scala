package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, TextAnalysis}

/** Semantics pins for the product-analytics and PII/URL operators (the
  * DuckDB hash-match is the driver's gate; these pin the invariants the
  * SQL can't state).
  */
class AnalyticsSpec extends AnyFunSuite {

  test("funnel: stage timestamps strictly ordered, stages monotone-shrinking") {
    val rows = Analytics.funnelConversion(TestSpark.spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    var nView = 0; var nClick = 0; var nPurchase = 0
    rows.foreach { r =>
      // events.ts is TIMESTAMP_NTZ → rows carry java.time.LocalDateTime
      val tv = Option(r.getAs[java.time.LocalDateTime](1))
      val tc = Option(r.getAs[java.time.LocalDateTime](2))
      val tp = Option(r.getAs[java.time.LocalDateTime](3))
      // a stage is only reachable through the previous one
      assert(tc.isEmpty || tv.nonEmpty, s"click without view: $r")
      assert(tp.isEmpty || tc.nonEmpty, s"purchase without click: $r")
      for (v <- tv; c <- tc) assert(c.isAfter(v), s"click not after view: $r")
      for (c <- tc; p <- tp) assert(p.isAfter(c), s"purchase not after click: $r")
      if (tv.nonEmpty) nView += 1
      if (tc.nonEmpty) nClick += 1
      if (tp.nonEmpty) nPurchase += 1
    }
    assert(nView >= nClick && nClick >= nPurchase, "funnel must shrink stage over stage")
    assert(nView > 0)
  }

  test("cohort retention: offset-0 cell equals cohort size, offsets non-negative") {
    val cells = Analytics.cohortRetention(TestSpark.spark, TestSpark.sf0001).collect()
    assert(cells.nonEmpty)
    assert(cells.forall(_.getInt(1) >= 0))
    // every cohort member is by construction active in their own first week,
    // and no later cell can exceed the cohort's size
    val byCohort = cells.groupBy(_.getDate(0))
    byCohort.foreach { case (week, cs) =>
      val size0 = cs.find(_.getInt(1) == 0).map(_.getLong(2))
      assert(size0.nonEmpty, s"cohort $week missing offset-0 cell")
      cs.foreach(c => assert(c.getLong(2) <= size0.get, s"cell exceeds cohort size: $c"))
    }
  }

  test("sessionize: sessions partition the events, split only by >=30min silences") {
    val sessions = Analytics.sessionize(TestSpark.spark, TestSpark.sf0001).collect()
    assert(sessions.nonEmpty)
    val totalEvents = graft.sources.Tables(TestSpark.spark, TestSpark.sf0001, "events").count()
    assert(sessions.map(_.getLong(4)).sum == totalEvents, "sessions must cover every event")
    def ldt(r: org.apache.spark.sql.Row, i: Int): java.time.LocalDateTime =
      r.getAs[java.time.LocalDateTime](i)
    sessions.groupBy(_.getLong(0)).foreach { case (user, ss) =>
      val ordered = ss.sortBy(s => ldt(s, 2).toString)
      ordered.foreach(s => assert(!ldt(s, 2).isAfter(ldt(s, 3)), s"start after end: $s"))
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          val gap = java.time.Duration.between(ldt(a, 3), ldt(b, 2))
          assert(gap.toMinutes >= 30, s"user $user: sessions split by a <30min gap")
        case _ =>
      }
    }
  }

  test("markov: exact bigram counts per user order; P(.|prev) normalizes") {
    val rows = Analytics.markovTransitions(TestSpark.spark, TestSpark.sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.nonEmpty)
    val ev = graft.sources.Tables(TestSpark.spark, TestSpark.sf0001, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2), r.getString(3)))
    val expect = ev.groupBy(_._1).values.flatMap { es =>
      val sorted = es.sortBy(e =>
        (e._2.toEpochSecond(java.time.ZoneOffset.UTC), e._2.getNano, e._3))
      sorted.sliding(2).collect { case Array(a, b) => (a._4, b._4) }
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.keySet == expect.keySet)
    rows.foreach { case (k, (n, _)) => assert(n == expect(k), s"count mismatch at $k") }
    // probabilities: n/total within each predecessor, and they sum to ~1
    rows.toSeq.groupBy(_._1._1).foreach { case (prev, rs) =>
      val tot = rs.map(_._2._1).sum.toDouble
      rs.foreach { case ((_, cur), (n, p)) =>
        assert(math.abs(p - n / tot) < 5e-5, s"P($cur|$prev) off: $p vs ${n / tot}")
      }
      val s = rs.map(_._2._2).sum
      assert(math.abs(s - 1.0) < 5e-4 * rs.size, s"P(.|$prev) sums to $s")
    }
  }

  test("pit join: every purchase maps to exactly one containing interval") {
    val got = Analytics.pitEnrichedPurchases(TestSpark.spark, TestSpark.sf0001).collect()
    val purchases = graft.sources.Tables(TestSpark.spark, TestSpark.sf0001, "events")
      .filter(col("event_type") === "purchase").count()
    assert(got.length == purchases.toInt,
      s"${got.length} enriched vs $purchases purchases — PIT join must be 1:1")
    // the joined interval genuinely contains the event: re-derive the
    // dimension and check containment + that it's the LATEST valid_from ≤ ts
    val dim = Analytics.scd2UserState(TestSpark.spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](2),
        Option(r.getAs[java.time.LocalDateTime](3)), r.getString(1)))
    val ev = graft.sources.Tables(TestSpark.spark, TestSpark.sf0001, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getAs[java.time.LocalDateTime](2)))).toMap
    got.foreach { r =>
      val (uid, ts) = ev(r.getLong(0))
      val since = r.getAs[java.time.LocalDateTime](4)
      assert(!since.isAfter(ts), s"state_since after event ts: $r")
      val versions = dim.filter(d => d._1 == uid && !d._2.isAfter(ts))
      assert(versions.nonEmpty && versions.maxBy(d =>
        (d._2.toEpochSecond(java.time.ZoneOffset.UTC), d._2.getNano))._2 == since,
        s"not the latest version at ts: $r")
    }
  }

  test("profile: one row per column, exact counts vs driver recompute") {
    val got = graft.operators.Relational.columnProfile(TestSpark.spark, TestSpark.sf0001)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val o = graft.sources.Tables(TestSpark.spark, TestSpark.sf0001, "orders").collect()
    assert(got.size == 5)
    def check(c: String, vals: Seq[Any]): Unit = {
      val (n, nn, nd) = got(c)
      assert(n == o.length, s"$c n_rows")
      assert(nn == vals.count(_ == null), s"$c n_null")
      assert(nd == vals.filter(_ != null).distinct.size, s"$c n_distinct")
    }
    check("o_orderkey", o.map(_.getAs[Any]("o_orderkey")).toSeq)
    check("o_orderstatus", o.map(_.getAs[Any]("o_orderstatus")).toSeq)
    check("o_totalprice", o.map(_.getAs[Any]("o_totalprice")).toSeq)
  }

  test("pagerank: conserves mass and matches a driver power iteration") {
    val got = Analytics.pagerankEventTypes(TestSpark.spark, TestSpark.sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.nonEmpty)
    assert(got.values.forall(_ > 0))
    // the fixture graph premise the operator's docstring states
    val edges = Analytics.markovTransitions(TestSpark.spark, TestSpark.sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    assert(nodes.forall(n => edges.exists(_._1 == n)), "dangling node in fixture")
    // with rounded row-stochastic weights, total mass stays ~1
    assert(math.abs(got.values.sum - 1.0) < 0.01, s"mass: ${got.values.sum}")
    // driver-side power iteration, same constants and order of ops
    var rank = nodes.map(_ -> 1.0 / nodes.length).toMap
    (1 to 20).foreach { _ =>
      val inflow = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _, w) => rank(s) * w }.sum).toMap
      rank = nodes.map(n => n -> (0.15 / nodes.length + 0.85 * inflow.getOrElse(n, 0.0))).toMap
    }
    got.foreach { case (n, r) =>
      assert(math.abs(r - rank(n)) < 1e-3, s"$n: $r vs ${rank(n)}")
    }
  }

  test("ewma: folds the exact per-user prefix recurrence, bit-identical") {
    val got = Analytics.ewmaUserValues(TestSpark.spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(got.nonEmpty)
    val ev = graft.sources.Tables(TestSpark.spark, TestSpark.sf0001, "events")
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2), r.getDouble(3)))
    val expect = ev.groupBy(_._1).values.flatMap { es =>
      val sorted = es.sortBy(e =>
        (e._2.toEpochSecond(java.time.ZoneOffset.UTC), e._2.getNano, e._3))
      var s = 0.0; var first = true
      sorted.map { e =>
        s = if (first) { first = false; e._4 } else 0.25 * e._4 + 0.75 * s
        (e._1, e._3) -> s
      }.toSeq
    }.toMap
    assert(got.keySet == expect.keySet)
    // Scala tuple/Double equality has NaN pitfalls and == on boxed
    // doubles — compare raw bits: the recurrence must be reproduced
    // EXACTLY (that is the q_ewma oracle's premise)
    got.foreach { case (k, v) =>
      assert(java.lang.Double.doubleToLongBits(v) ==
        java.lang.Double.doubleToLongBits(expect(k)), s"$k: $v vs ${expect(k)}")
    }
  }

  test("pii: every doc gains one spliced match per class; redaction removes all") {
    val df = TextAnalysis.piiRedact(TestSpark.spark, TestSpark.sf0001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1, s"no email matched: $r")
      assert(r.getLong(2) >= 1, s"no phone matched: $r")
      assert(r.getLong(3) >= 1, s"no ip matched: $r")
    }
    // recompute the redacted text and assert the patterns are really gone
    // (the query only emits its md5)
    val leftover = TestSpark.spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(regexp_replace(regexp_replace(regexp_replace(
        concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
          lit("@mail-"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example.com or +1-555-"),
          lpad(pmod(col("doc_id") * 37, lit(10000)).cast("string"), 4, "0"),
          lit(" ip 10."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".0."), pmod(col("doc_id") * 3, lit(256)).cast("string")),
        TextAnalysis.EmailRe, "<EMAIL>"), TextAnalysis.PhoneRe, "<PHONE>"),
        TextAnalysis.Ipv4Re, "<IP>").as("red"))
      .filter(col("red").rlike(TextAnalysis.EmailRe)
        || col("red").rlike(TextAnalysis.PhoneRe)
        || col("red").rlike(TextAnalysis.Ipv4Re))
      .count()
    assert(leftover == 0, s"$leftover docs still contain PII after redaction")
  }

  test("position attribution: channel credits sum to exactly the purchase cents") {
    // the largest-remainder split must conserve money: total credited
    // cents across channels == total purchase cents, to the cent
    val spark = TestSpark.spark
    val totalCents = graft.sources.Tables(spark, TestSpark.sf0001, "events")
      .filter(col("event_type") === "purchase")
      .select(sum(round(col("value") * 100).cast("long")).as("c"))
      .collect().head.getLong(0)
    val credited = Analytics.positionAttribution(spark, TestSpark.sf0001)
      .agg(sum(col("credit_cents"))).collect().head.getLong(0)
    assert(credited == totalCents,
      s"credits $credited != purchase cents $totalCents — allocation leaks money")
  }

  test("position attribution: purchase events never credit themselves") {
    val channels = Analytics.positionAttribution(TestSpark.spark, TestSpark.sf0001)
      .select(col("channel")).collect().map(_.getString(0)).toSet
    assert(!channels.contains("purchase"), "a purchase credited itself as a touch")
    assert(channels.contains("direct"), "journeys with no touches must land on 'direct'")
  }

  test("clustering coefficient: bounded in [0,1] and exact on a degree-2 triangle node") {
    val rows = Analytics.clusteringCoefficient(TestSpark.spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (d, tri, c) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(c >= 0.0 && c <= 1.0, s"coeff out of range: $r")
      // tri(v) can never exceed the wedge count deg·(deg−1)/2
      assert(2 * tri <= d * (d - 1), s"more triangles than wedges: $r")
      // exactness of the single division on one reconstructible case
      if (d == 2) assert(c == (if (tri == 1) 1.0 else 0.0), s"degree-2 coeff wrong: $r")
    }
  }

  test("windowed funnel: each stage is either NULL or exactly the unbounded stage time") {
    // the min click after t_view, if any click falls inside the window,
    // IS the global min (else every candidate is outside and the stage
    // nulls) — so windowed stages never invent new timestamps
    def ldt(r: org.apache.spark.sql.Row, i: Int) =
      Option(r.getAs[java.time.LocalDateTime](i))
    val unbounded = Analytics.funnelConversion(TestSpark.spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> ((ldt(r, 1), ldt(r, 2), ldt(r, 3)))).toMap
    val windowed = Analytics.funnelWindowed(TestSpark.spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> ((ldt(r, 1), ldt(r, 2), ldt(r, 3)))).toMap
    assert(windowed.keySet == unbounded.keySet)
    var dropped = 0
    windowed.foreach { case (uid, (wv, wc, wp)) =>
      val (uv, uc, up) = unbounded(uid)
      assert(wv == uv, s"user $uid: stage 1 has no window, must match")
      assert(wc.forall(t => uc.contains(t)), s"user $uid: windowed click invented a time")
      assert(wp.forall(t => up.contains(t)), s"user $uid: windowed purchase invented a time")
      if (wc != uc || wp != up) dropped += 1
    }
    assert(dropped > 0, "window never binds at sf0.001 — fixture can't distinguish the verbs")
  }

  test("kcore: peel reaches its fixpoint inside the round budget; members have core degree >= k") {
    val spark = TestSpark.spark
    val at6 = Analytics.kcore(spark, TestSpark.sf0001, rounds = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(at6.nonEmpty, "3-core empty at sf0.001 — fixture too sparse to pin anything")
    // fixpoint: one fewer round must already give the same residual graph
    val at5 = Analytics.kcore(spark, TestSpark.sf0001, rounds = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(at5 == at6, "peel had not converged by round 5 — raise the round budget")
    // k-core defining property: every member keeps >= k neighbors IN the core
    assert(at6.values.forall(_ >= 3), s"member below k: ${at6.filter(_._2 < 3)}")
  }

  test("rfm: quintiles partition all customers into near-equal bands") {
    val spark = TestSpark.spark
    val df = Analytics.rfmSegments(spark, TestSpark.sf0001).collect()
    val total = df.map(_.getLong(3)).sum
    val nCust = graft.sources.Tables(spark, TestSpark.sf0001, "orders")
      .select(col("o_custkey")).distinct().count()
    assert(total == nCust, s"cells cover $total customers, expected $nCust")
    // every quintile id in 1..5, and each metric's marginal is balanced
    // to within 1 (the floor((rn-1)*5/n) formula spreads the remainder)
    for (idx <- 0 to 2) {
      val marginal = df.groupBy(_.getInt(idx)).map { case (q, cells) =>
        q -> cells.map(_.getLong(3)).sum }
      assert(marginal.keySet == Set(1, 2, 3, 4, 5), s"metric $idx quintiles: ${marginal.keySet}")
      val sizes = marginal.values
      assert(sizes.max - sizes.min <= 1, s"metric $idx unbalanced: $marginal")
    }
  }

  test("url parse: components round-trip the synthesized construction") {
    val rows = TextAnalysis.urlParse(TestSpark.spark, TestSpark.sf0001)
      .orderBy(col("doc_id")).limit(20).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) == "https")
      assert(r.getString(2) == s"sub${id % 10}.example.com", s"host mismatch: $r")
      assert(r.getString(3) == s"/p/$id/item", s"path mismatch: $r")
      assert(r.getString(5) == (id % 5).toString, s"page mismatch: $r")
      assert(r.getString(6) == "frag", s"fragment mismatch: $r")
    }
  }

  test("process edges: shares sum to 1, counts match markov, medians recompute") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val rows = Analytics.processEdges(spark, TestSpark.sf0001).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getAs[Long]("n_transitions"), r.getAs[Long]("median_gap_s"),
          r.getAs[Double]("share")))).toMap
    assert(rows.nonEmpty)
    assert(math.abs(rows.values.map(_._3).sum - 1.0) < 1e-3, "shares must sum to ~1")
    // counts agree with the markov transition relation
    val markov = Analytics.markovTransitions(spark, TestSpark.sf0001).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getAs[Long]("n"))).toMap
    assert(rows.keySet == markov.keySet)
    rows.foreach { case (k, (n, _, _)) => assert(markov(k) == n, s"$k count") }
    // median recompute for the heaviest edge
    val raw = graft.sources.Tables.raw(spark, TestSpark.sf0001, "events")
    val evs = raw.select(col("user_id"), col("event_type"),
        graft.sources.Tables.micros(raw).as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val gaps = evs.groupBy(_._1).values.flatMap { es =>
      val s = es.sortBy(e => (e._3, e._4))
      s.zip(s.drop(1)).map { case (a, b) => ((a._2, b._2), (b._3 - a._3) / 1000000L) }
    }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val heavy = rows.maxBy(_._2._1)._1
    val g = gaps(heavy)
    assert(rows(heavy)._2 == g((g.length + 1) / 2 - 1), s"median mismatch on $heavy")
  }

  test("stickiness: DAU<=MAU, trailing window recomputes directly") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val rows = Analytics.stickiness(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (_, dau, mau, s) =>
      assert(dau <= mau && s > 0 && s <= 1.0)
      val _ = s
    }
    val raw = graft.sources.Tables.raw(spark, TestSpark.sf0001, "events")
    val facts = raw.select(col("user_id"),
        graft.sources.Tables.microsDiv(raw, 86400000000L).as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    // direct recompute for the LAST day (fullest window)
    val (day, dau, mau, _) = rows.last
    assert(facts.filter(_._2 == day).map(_._1).distinct.length == dau)
    assert(facts.filter(f => f._2 >= day - 29 && f._2 <= day)
      .map(_._1).distinct.length == mau)
  }

  test("entropy rate: information inequalities hold, h_cond recomputes from transitions") {
    import org.apache.spark.sql.functions._
    val r = Analytics.entropyRate(TestSpark.spark, TestSpark.sf0001).collect().head
    val hCond = r.getAs[Double]("h_cond"); val hNext = r.getAs[Double]("h_next")
    val mi = r.getAs[Double]("mutual_info")
    // conditioning never increases entropy; MI is their gap
    assert(hCond >= 0 && hCond <= hNext + 1e-9, s"h_cond $hCond vs h_next $hNext")
    assert(math.abs(mi - (hNext - hCond)) < 2e-6)
    // direct recompute from the markov transition counts
    val trans = Analytics.markovTransitions(TestSpark.spark, TestSpark.sf0001)
      .collect().map(x => ((x.getString(0), x.getString(1)), x.getAs[Long]("n"))).toMap
    val nT = trans.values.sum.toDouble
    assert(r.getAs[Long]("n_transitions") == nT.toLong)
    val byPrev = trans.groupBy(_._1._1).view.mapValues(_.values.sum.toDouble)
    val direct = trans.map { case ((p, _), c) =>
      -(c / nT) * math.log(c / byPrev(p))
    }.sum
    assert(math.abs(hCond - direct) < 1e-5, s"h_cond $hCond vs direct $direct")
    // h_next bounded by ln(#states)
    val k = trans.keys.map(_._2).toSet.size
    assert(hNext <= math.log(k.toDouble) + 1e-9)
  }

  test("user paths: ranks contiguous, counts ordered, top path recomputes directly") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val sf = TestSpark.sf0001
    val rows = Analytics.userPaths(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val ranked = rows.sortBy(_.getInt(0))
    assert(ranked.map(_.getInt(0)).toSeq == (1 to rows.length))
    val counts = ranked.map(_.getAs[Long]("n_users"))
    assert(counts.zip(counts.drop(1)).forall { case (a, b) => a >= b },
      "counts must be non-increasing down the ranking")
    // every user contributes exactly one path: counts over ALL paths
    // partition the user base (recompute the unranked relation)
    val nUsers = graft.sources.Tables(spark, sf, "events")
      .select(col("user_id")).distinct().count()
    assert(counts.sum <= nUsers)
    // direct recompute of the top path from the raw log
    val raw = graft.sources.Tables.raw(spark, sf, "events")
    val micros = graft.sources.Tables.micros(raw)
    val top = raw.select(col("user_id"), col("event_type"),
        micros.as("us"), col("event_id")).collect()
      .groupBy(_.getLong(0)).values
      .map { evs =>
        evs.sortBy(r => (r.getLong(2), r.getLong(3))).take(3)
          .map(_.getString(1)).mkString(" > ")
      }
      .groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (p, n) => (-n, p) }.head
    assert(ranked.head.getString(1) == top._1, "top path mismatch")
    assert(ranked.head.getAs[Long]("n_users") == top._2)
  }

  test("hits: L1-normalized halves, driver replay of the exact decimal fold") {
    val got = Analytics.hitsEventTypes(TestSpark.spark, TestSpark.sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.nonEmpty)
    assert(got.values.forall { case (h, a) => h >= 0 && a >= 0 })
    // both score vectors are L1-normalized per half-step (sum ~1 up to
    // the round-9 sites)
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-5, "hub mass")
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-5, "authority mass")
    // driver replay of the identical round-9 decimal fold
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val edges = graft.sources.Tables(TestSpark.spark, TestSpark.sf0001, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("src", org.apache.spark.sql.functions.lag(col("event_type"), 1).over(w))
      .filter(col("src").isNotNull)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def half(scores: Map[String, Double], bySrc: Boolean): Map[String, Double] = {
      val raw = edges.groupBy(e => if (bySrc) e._2 else e._1).view.mapValues { es =>
        es.map { case (s, d, n) =>
          r9(scores(if (bySrc) s else d) * n.toDouble)
        }.sum
      }.toMap
      val t = raw.values.sum.toDouble
      nodes.map(n => n -> r9(raw.get(n).map(_.toDouble).getOrElse(0.0) / t).toDouble).toMap
    }
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = nodes.map(_ -> 1.0).toMap
    (1 to 8).foreach { _ =>
      auth = half(hub, bySrc = true)
      hub = half(auth, bySrc = false)
    }
    got.foreach { case (n, (h, a)) =>
      assert(math.abs(h - hub(n)) < 1e-6, s"hub $n: $h vs ${hub(n)}")
      assert(math.abs(a - auth(n)) < 1e-6, s"auth $n: $a vs ${auth(n)}")
    }
  }

  test("assortativity: |r| <= 1 and matches a driver Pearson over edges") {
    val r = Analytics.degreeAssortativity(TestSpark.spark, TestSpark.sf0001)
      .collect().head
    val li = graft.sources.Tables(TestSpark.spark, TestSpark.sf0001, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val dOk = li.groupBy(_._1).view.mapValues(_.length).toMap
    val dPk = li.groupBy(_._2).view.mapValues(_.length).toMap
    val xs = li.map(e => dOk(e._1).toDouble)
    val ys = li.map(e => dPk(e._2).toDouble)
    val n = xs.length.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val (sxx, syy) = (xs.map(v => v * v).sum, ys.map(v => v * v).sum)
    val expect = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    assert(r.getAs[Long]("n_edges") == li.length)
    val got = r.getAs[Double]("assortativity")
    assert(math.abs(got) <= 1.0 + 1e-9)
    assert(math.abs(got - expect) < 1e-4, s"assortativity: $got vs $expect")
  }

  test("item cosine: bounded similarities, jaccard <= cosine, counts agree with assoc rules") {
    val rows = Analytics.itemCosine(TestSpark.spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cos, jac) = (r.getAs[Double]("cosine"), r.getAs[Double]("jaccard"))
      assert(cos > 0 && cos <= 1.0 + 1e-9, s"cosine out of range: $r")
      assert(jac > 0 && jac <= cos + 1e-9, s"jaccard must not exceed cosine: $r")
      val (na, nb, nab) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("n_ab"))
      assert(nab <= math.min(na, nb), s"co-count exceeds a marginal: $r")
    }
    // the pair relation is the assoc-rules one (same prune thresholds)
    val ar = Analytics.associationRules(TestSpark.spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_ab")).toMap
    val ic = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_ab")).toMap
    assert(ic == ar, "pair counts diverge from association rules")
  }
}
