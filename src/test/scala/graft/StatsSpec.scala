package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, Geo, Stats}

/** Semantics pins for the statistics / basket / spatial tier (the DuckDB
  * hash-match is the driver's gate; these pin the invariants and the
  * differential identities the SQL can't state).
  */
class StatsSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private def sf = TestSpark.sf0001

  test("spearman: histogram ranks == rank-window formulation, rho in [-1,1]") {
    // the distributed two-phase ranking must agree with the direct
    // rank-window identity 2*RANK + cnt - 1 computed by Spark itself
    val rows = Stats.spearmanQuantityPrice(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9, s"rho out of range: $r"))
    val li = graft.sources.Tables(spark, sf, "lineitem")
      .select(col("l_returnflag").as("g"), col("l_quantity").as("x"),
        col("l_extendedprice").as("y"))
    def r2(v: String) =
      (lit(2L) * rank().over(Window.partitionBy(col("g")).orderBy(col(v))) +
        count(lit(1)).over(Window.partitionBy(col("g"), col(v))) - 1L)
    val direct = li
      .withColumn("rx", r2("x")).withColumn("ry", r2("y"))
      .groupBy(col("g")).agg(
        corr(col("rx").cast("double"), col("ry").cast("double")).as("rho"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val expect = direct(r.getString(0))
      assert(math.abs(r.getDouble(2) - expect) < 1e-6,
        s"histogram-rank rho != window-rank rho for ${r.getString(0)}: " +
          s"${r.getDouble(2)} vs $expect")
    }
  }

  test("welch t-test: matches a driver recompute from the raw values") {
    val out = Stats.welchTTest(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val vals = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("value")).collect()
      .map(x => (x.getLong(0) % 2 == 0, BigDecimal(x.getDouble(1)).setScale(2)))
    def stats(arm: Boolean): (Long, Double, Double) = {
      val vs = vals.filter(_._1 == arm).map(_._2)
      val n = vs.length.toLong
      val s = vs.sum.toDouble
      val ss = vs.map(v => (v * v).toDouble).sum
      val m = s / n
      val v = (ss - s * s / n) / (n - 1)
      (n, m, v)
    }
    val (na, ma, va) = stats(arm = true)
    val (nb, mb, vb) = stats(arm = false)
    assert(r.getLong(0) == na && r.getLong(1) == nb)
    assert(math.abs(r.getDouble(2) - ma) < 1e-4, "mean_a")
    assert(math.abs(r.getDouble(4) - va) < 1e-3, "var_a")
    val t = (ma - mb) / math.sqrt(va / na + vb / nb)
    assert(math.abs(r.getDouble(6) - t) < 1e-3, s"t_stat: ${r.getDouble(6)} vs $t")
    val sa = va / na; val sb = vb / nb
    val df = (sa + sb) * (sa + sb) / (sa * sa / (na - 1) + sb * sb / (nb - 1))
    assert(math.abs(r.getDouble(7) - df) < 1e-2, s"df: ${r.getDouble(7)} vs $df")
  }

  test("welch: a single-row arm yields NULL variance/t/df, not an ANSI error") {
    val s = spark
    import s.implicits._
    val t0 = 1700000000L * 1000000L
    val rows = Seq( // one even user (arm A, n=1), two odd rows (arm B)
      (1L, t0, 2L, "view", 5.0, "{}"),
      (2L, t0 + 1, 3L, "view", 1.0, "{}"),
      (3L, t0 + 2, 3L, "view", 9.0, "{}"))
    val d = java.nio.file.Files.createTempDirectory("graft-welch-").toFile
    d.deleteOnExit()
    rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"${d.getAbsolutePath}/events.parquet")
    val r = Stats.welchTTest(spark, d.getAbsolutePath).collect().head
    assert(r.getLong(0) == 1 && r.getLong(1) == 2)
    assert(!r.isNullAt(2) && !r.isNullAt(3), "means are always defined")
    assert(r.isNullAt(4), "var_a must be NULL for n=1")
    assert(!r.isNullAt(5), "var_b defined for n=2")
    assert(r.isNullAt(6) && r.isNullAt(7), "t/df undefined when an arm has no variance")
  }

  test("histogram: bins cover every row, edges tile [min, max]") {
    val bins = Stats.priceHistogram(spark, sf).collect()
    val orders = graft.sources.Tables(spark, sf, "orders")
    assert(bins.map(_.getLong(3)).sum == orders.count(), "counts must cover all rows")
    assert(bins.forall(b => b.getInt(0) >= 0 && b.getInt(0) < 16))
    bins.sortBy(_.getInt(0)).sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getInt(0) < b.getInt(0))
        assert(math.abs(a.getDouble(2) - b.getDouble(1)) < 1e-3,
          s"bin_hi(${a.getInt(0)}) must meet bin_lo(${b.getInt(0)})")
      case _ =>
    }
    bins.foreach(b => assert(b.getDouble(1) < b.getDouble(2)))
  }

  test("rolling autocorr: only full frames emit, values in [-1,1]") {
    val out = Stats.rollingAutocorr(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.isNullAt(2) || math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
    // emitted rows per type == max(0, pairs - 49): the full-frame contract
    val pairsPerType = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type")).agg((count(lit(1)) - 1).as("pairs"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val emitted = out.groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    pairsPerType.foreach { case (tpe, pairs) =>
      val expect = math.max(0L, pairs - 49)
      assert(emitted.getOrElse(tpe, 0L) == expect,
        s"$tpe: emitted ${emitted.getOrElse(tpe, 0L)}, expected $expect")
    }
  }

  test("rolling autocorr dist: bit-identical to the per-type window, partitions bounded") {
    val plain = Stats.rollingAutocorr(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // sliceRows barely above frame forces MANY slice boundaries — every
    // context-replication edge case fires on the small fixture
    val dist = Stats.rollingAutocorrDist(spark, sf, sliceRows = 64).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(dist.size == plain.size,
      s"row counts differ: dist ${dist.size} vs plain ${plain.size}")
    plain.foreach { case (k, v) =>
      assert(dist(k) == v, s"autocorr differs at $k: ${dist(k)} vs $v")
    }
    // default slicing too (one boundary at most on the fixture)
    val distDefault = Stats.rollingAutocorrDist(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(distDefault == plain)
  }

  test("association rules: metrics consistent, apriori bounds hold") {
    val rules = Analytics.associationRules(spark, sf).collect()
    assert(rules.nonEmpty, "sf0.001 must yield at least one rule")
    rules.foreach { r =>
      val (a, b, na, nb, nab) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(a < b, "canonical pair order")
      assert(nab <= na && nab <= nb, "pair support cannot exceed item support")
      assert(nab >= 3 && na >= 3 && nb >= 3, "support thresholds")
      assert(math.abs(r.getDouble(5) - nab.toDouble / na) < 1e-6, "conf_a_b")
      assert(math.abs(r.getDouble(6) - nab.toDouble / nb) < 1e-6, "conf_b_a")
    }
    // brute-force differential on the small fixture
    val li = graft.sources.Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val itemN = li.groupBy(_._2).view.mapValues(_.length).toMap
    val pairN = byOrder.values.flatMap { parts =>
      val keep = parts.filter(itemN(_) >= 3).toSeq.sorted
      for (i <- keep.indices; j <- (i + 1) until keep.length) yield (keep(i), keep(j))
    }.groupBy(identity).view.mapValues(_.size).toMap
    val expect = pairN.filter(_._2 >= 3)
    assert(rules.length == expect.size,
      s"rule count ${rules.length} != brute force ${expect.size}")
    rules.foreach { r =>
      assert(expect((r.getLong(0), r.getLong(1))) == r.getLong(4).toInt, s"support: $r")
    }
  }

  test("khop: source at 0, every dist-i node adjacent to a dist-(i-1) node") {
    val dists = Analytics.khopDistances(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(dists.nonEmpty)
    assert(dists.values.min == 0 && dists.values.count(_ == 0) == 1, "exactly one source")
    val src = dists.find(_._2 == 0).get._1
    assert(src == dists.keys.min ||
      dists.keysIterator.forall(_ >= src), "source is the lowest-id reached node")
    // rebuild edges and check BFS optimality for every reported distance
    val li = graft.sources.Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairs = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size).filter(_._2 >= 2).keys.toSeq
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // reference BFS
    var frontier = Set(src); val seen = collection.mutable.Map(src -> 0)
    (1 to 3).foreach { i =>
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
        .filterNot(seen.contains)
      frontier.foreach(seen(_) = i)
    }
    assert(dists == seen.toMap, "distances must equal reference BFS")
  }

  test("ohlc: min_by/max_by bars equal the window formulation, volume exact") {
    val bars = Analytics.ohlcBars(spark, sf)
    val ev = graft.sources.Tables(spark, sf, "events").filter(col("value").isNotNull)
      .withColumn("bar_hour", date_trunc("hour", col("ts")))
      .withColumn("bar_minute", (floor(minute(col("ts")) / 15) * 15).cast("int"))
    val w = Window.partitionBy(col("event_type"), col("bar_hour"), col("bar_minute"))
    val direct = ev
      .withColumn("rna", row_number().over(w.orderBy(col("ts").asc, col("event_id").asc)))
      .withColumn("rnd", row_number().over(w.orderBy(col("ts").desc, col("event_id").desc)))
      .groupBy(col("event_type"), col("bar_hour"), col("bar_minute"))
      .agg(max(when(col("rna") === 1, col("value"))).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max(when(col("rnd") === 1, col("value"))).as("close"),
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("volume"))
    assert(bars.collect().toSet == direct.collect().toSet,
      "aggregate bars must equal window bars")
    bars.collect().foreach { r =>
      assert(r.getDouble(5) <= r.getDouble(4) + 1e-9, "low <= high")
    }
  }

  test("sequence pattern: v.*c.*p matches exactly the funnel-completing users") {
    // subsequence existence (the regex) and greedy stage-wise firsts
    // (the funnel join) are the same predicate — two formulations, one
    // semantic, cross-pinned
    val matched = Analytics.sequencePattern(spark, sf).collect()
      .filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    val funnel = Analytics.funnelConversion(spark, sf).collect()
      .filter(!_.isNullAt(3)).map(_.getLong(0)).toSet
    assert(matched == funnel,
      s"pattern users ${matched.size} != funnel completers ${funnel.size}")
    assert(matched.nonEmpty, "fixture should contain at least one completer")
  }

  test("cogroup: typed merge equals the full-outer join of grouped aggregates") {
    val got = Analytics.cogroupCustomerActivity(spark, sf)
    val orders = graft.sources.Tables(spark, sf, "orders")
      .groupBy(col("o_custkey").as("key_id"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("oc"))
    val events = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("user_id").as("key_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("ec"))
    val expect = orders.join(events, Seq("key_id"), "full_outer")
      .select(col("key_id"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        (coalesce(col("oc"), lit(0L)).cast("double") / 100).as("order_total"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        (coalesce(col("ec"), lit(0L)).cast("double") / 100).as("event_total"))
    assert(got.collect().toSet == expect.collect().toSet)
  }

  test("crosstab: df.stat contingency table equals groupBy counts") {
    val ct = Stats.langSourceCrosstab(spark, sf)
    val rows = ct.collect()
    val cols = ct.columns
    assert(cols.head == "lang_source")
    val expect = graft.sources.Tables(spark, sf, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val total = rows.flatMap { r =>
      cols.tail.zipWithIndex.map { case (src, i) =>
        val n = r.getLong(i + 1)
        assert(n == expect.getOrElse((r.getString(0), src), 0L),
          s"cell (${r.getString(0)}, $src) = $n mismatches groupBy")
        n
      }
    }.sum
    assert(total == graft.sources.Tables(spark, sf, "documents").count())
  }

  test("geo join: grid candidates equal the brute-force radius join") {
    val grid = Geo.customersNearSuppliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val cust = graft.sources.Tables(spark, sf, "customer")
      .select(col("c_custkey"),
        graft.functions.GraftFunctions.md5Bucket(concat(col("c_custkey").cast("string"), lit("cx"))).cast("long").as("x"),
        graft.functions.GraftFunctions.md5Bucket(concat(col("c_custkey").cast("string"), lit("cy"))).cast("long").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val supp = graft.sources.Tables(spark, sf, "supplier")
      .select(col("s_suppkey"),
        graft.functions.GraftFunctions.md5Bucket(concat(col("s_suppkey").cast("string"), lit("sx"))).cast("long").as("x"),
        graft.functions.GraftFunctions.md5Bucket(concat(col("s_suppkey").cast("string"), lit("sy"))).cast("long").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (c, cx, cy) <- cust; (s, sx, sy) <- supp
      d2 = (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)
      if d2 <= 160000L
    } yield (c, s, d2)).toSet
    assert(grid == brute, s"grid join ${grid.size} pairs vs brute ${brute.size}")
    assert(brute.nonEmpty, "fixture must produce at least one pair")
  }

  // shared driver-side fixture for the nonparametric tests: per-arm
  // value lists under the persisted even/odd assignment
  private def armValues: (Array[Double], Array[Double]) = {
    val vals = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("value")).collect()
      .map(r => (r.getLong(0) % 2 == 0, r.getDouble(1)))
    (vals.filter(_._1).map(_._2), vals.filterNot(_._1).map(_._2))
  }

  test("ks test: D matches a driver ECDF recompute and sits in [0,1]") {
    val r = Stats.ksTest(spark, sf).collect().head
    val (a, b) = armValues
    assert(r.getLong(0) == a.length && r.getLong(1) == b.length)
    val pooled = (a ++ b).distinct.sorted
    val dExpect = pooled.map { v =>
      math.abs(a.count(_ <= v).toDouble / a.length - b.count(_ <= v).toDouble / b.length)
    }.max
    val d = r.getDouble(2)
    assert(d >= 0 && d <= 1, s"D out of range: $d")
    assert(math.abs(d - dExpect) < 1e-6, s"engine D $d vs driver ECDF recompute $dExpect")
  }

  test("mwu: U matches a mid-rank driver recompute; U_a + U_b = n_a*n_b") {
    val r = Stats.mannWhitneyU(spark, sf).collect().head
    val (a, b) = armValues
    val na = a.length.toLong; val nb = b.length.toLong
    assert(r.getLong(0) == na && r.getLong(1) == nb)
    // driver mid-ranks over the pooled sample
    val pooled = (a.map((_, true)) ++ b.map((_, false))).sortBy(_._1)
    val ranks = scala.collection.mutable.Map.empty[Double, Double]
    var i = 0
    while (i < pooled.length) {
      var j = i
      while (j < pooled.length && pooled(j)._1 == pooled(i)._1) j += 1
      val mid = (i + 1 + j).toDouble / 2 // average of ranks i+1 .. j
      ranks(pooled(i)._1) = mid
      i = j
    }
    val ra = a.map(ranks).sum
    val uExpect = ra - na.toDouble * (na + 1) / 2
    val uA = r.getDouble(2)
    assert(math.abs(uA - uExpect) < 1e-6, s"engine U $uA vs driver recompute $uExpect")
    // complement identity: U_b from the same ranks must complete n_a*n_b
    val rb = b.map(ranks).sum
    val uB = rb - nb.toDouble * (nb + 1) / 2
    assert(math.abs(uA + uB - na.toDouble * nb) < 1e-6, "U_a + U_b != n_a*n_b")
    // z is finite for this non-degenerate fixture
    assert(!r.isNullAt(3) && !r.getDouble(3).isNaN)
  }

  test("logreg: engine GD trajectory equals a driver replay; loss improves on init") {
    val r = graft.operators.LogReg.trainEnClassifier(spark, sf, iters = 4).collect().head
    val n = r.getLong(0)
    val w = Array(r.getDouble(1), r.getDouble(2), r.getDouble(3))
    val loss = r.getDouble(4); val acc = r.getDouble(5)
    assert(loss < math.log(2.0), s"GD must improve on the w=0 loss ln2, got $loss")
    assert(acc >= 0 && acc <= 1)
    // driver replay of the identical 4 steps on the collected features
    val stops = Set("the", "a", "of", "and", "to", "in", "is")
    val feats = graft.sources.Tables(spark, sf, "documents")
      .select(col("lang"), col("n_chars"), col("text")).collect().map { row =>
        val toks = row.getString(2).toLowerCase.split("\\s+").filter(_.nonEmpty)
        val x2 = if (toks.nonEmpty) toks.count(stops).toDouble / toks.length else 0.0
        (if (row.getString(0) == "en") 1 else 0, row.getLong(1) / 1000.0, x2)
      }
    assert(feats.length == n)
    var wr = Array(0.0, 0.0, 0.0)
    def round9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    for (_ <- 1 to 4) {
      var g0 = BigDecimal(0); var g1 = BigDecimal(0); var g2 = BigDecimal(0)
      feats.foreach { case (y, x1, x2) =>
        val p = 1.0 / (1.0 + math.exp(-(wr(0) + wr(1) * x1 + wr(2) * x2)))
        val rr = p - y
        g0 += round9(rr); g1 += round9(rr * x1); g2 += round9(rr * x2)
      }
      wr = Array(wr(0) - g0.toDouble / n, wr(1) - g1.toDouble / n, wr(2) - g2.toDouble / n)
    }
    w.zip(wr).zipWithIndex.foreach { case ((we, wd), i) =>
      assert(math.abs(we - BigDecimal(wd).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 2e-6,
        s"w$i: engine $we vs driver replay $wd")
    }
  }

  test("seasonal anomaly: flags match a driver z-score recompute over cells") {
    val got = Stats.seasonalAnomalies(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(4))).toSet
    val ev = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), hour(col("ts")).as("hod"), col("event_id"), col("value"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(2).toDouble))
    val cells = ev.groupBy(e => (e._1, e._2)).view.mapValues { es =>
      val xs = es.map(_._4); val n = xs.length
      val m = xs.sum / n
      (m, xs.map(x => x * x).sum / n - m * m)
    }.toMap
    val expect = ev.flatMap { case (t, h, id, x) =>
      val (m, v) = cells((t, h))
      if (v > 0) {
        val z = (x - m) / math.sqrt(v)
        if (math.abs(z) > 3) Some((t, h, id,
          BigDecimal(z).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)) else None
      } else None
    }.toSet
    // id sets must agree exactly; z values to float tolerance
    assert(got.map(_._3) == expect.map(_._3),
      s"flag sets differ: engine ${got.size} vs driver ${expect.size}")
    val byId = expect.map(e => e._3 -> e._4).toMap
    got.foreach { case (_, _, id, z) => assert(math.abs(z - byId(id)) < 1e-5) }
  }

  test("seasonal: offsets are mean-centered per type; cells match a driver recompute") {
    val rows = Stats.seasonalProfile(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    // Σ_hod n·seasonal = 0 per type (the additive-decomposition identity)
    rows.groupBy(_._1).foreach { case (t, cells) =>
      val weighted = cells.map(c => c._3 * c._5).sum
      val total = cells.map(_._3).sum
      assert(math.abs(weighted / total) < 1e-5, s"type $t offsets not centered: $weighted")
    }
    // one cell recomputed from raw rows
    val ev = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), hour(col("ts")).as("hod"), col("value"))
      .collect().map(r => (r.getString(0), r.getInt(1), BigDecimal(r.getDouble(2)).setScale(2)))
    val (t0, h0, _, mean0, _) = rows.head
    val cell = ev.filter(e => e._1 == t0 && e._2 == h0)
    assert(math.abs(cell.map(_._3).sum.toDouble / cell.length - mean0) < 1e-5)
  }

  test("gini: histogram formulation == rank-window identity, bounded in [0,1)") {
    // the two-phase histogram ranks must reproduce the direct
    // row_number-window Gini exactly (Spark computes both)
    val spend = graft.sources.Tables(spark, sf, "orders")
      .groupBy(col("o_custkey"))
      .agg(floor(sum(col("o_totalprice").cast("decimal(12,2)"))).cast("long").as("x"))
      .join(graft.sources.Tables(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(graft.sources.Tables(spark, sf, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("x"), col("o_custkey"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("x"), col("o_custkey"))
    val direct = spend.withColumn("i", row_number().over(w))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("i") * col("x")).as("six"))
      .select(col("n_name"),
        round((lit(2d) * col("six") - (col("n") + 1).cast("double") * col("sx")) /
          (col("n").cast("double") * col("sx")), 6).as("gini"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val hist = Stats.giniSpend(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("gini")).toMap
    assert(hist.keySet == direct.keySet)
    hist.foreach { case (nation, g) =>
      assert(g >= 0.0 && g < 1.0, s"$nation gini out of range: $g")
      assert(math.abs(g - direct(nation)) < 1e-9,
        s"$nation: histogram $g != window ${direct(nation)}")
    }
  }

  test("kaplan-meier: survival monotone from 1-d1/N, risk set conserves subjects") {
    val rows = Stats.kaplanMeier(spark, sf).orderBy(col("t_hours")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val nUsers = graft.sources.Tables(spark, sf, "events")
      .select(col("user_id")).distinct().count()
    // the first risk set is everyone minus those who left strictly earlier
    assert(rows.head._2 <= nUsers && rows.head._2 > 0)
    // survival strictly decreases at event times, stays in (0, 1]
    rows.sliding(2).foreach {
      case Array((_, n1, _, s1), (t2, n2, _, s2)) =>
        assert(s2 < s1, s"survival must drop at event time $t2")
        assert(n2 < n1, s"risk set must shrink by time $t2")
      case _ =>
    }
    assert(rows.forall { case (_, n, d, s) => s >= 0 && s <= 1 && d <= n })
    // independent fold: replay the product from the (t, n, d) table itself
    var expected = 1.0
    rows.foreach { case (_, n, d, s) =>
      expected = expected * (1.0 - d.toDouble / n.toDouble)
      assert(java.lang.Double.doubleToLongBits(expected) ==
        java.lang.Double.doubleToLongBits(s), s"fold diverges at n=$n d=$d")
    }
  }

  test("cuped: sufficient-statistics means equal a per-user adjusted recompute") {
    val out = Stats.cupedAdjustment(spark, sf).collect()
      .map(r => r.getBoolean(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    assert(out.keySet == Set(true, false))
    // rebuild y_cuped per user the direct way and compare arm means
    val pu = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") =!= "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1).toDouble, r.getLong(2).toDouble))
    val n = pu.length
    val (sx, sy) = (pu.map(_._2).sum, pu.map(_._3).sum)
    val sxy = pu.map(e => e._2 * e._3).sum
    val sxx = pu.map(e => e._2 * e._2).sum
    val theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val xbar = sx / n
    for (armA <- Seq(true, false)) {
      val arm = pu.filter(e => (e._1 % 2 == 0) == armA)
      val adj = arm.map(e => e._3 - theta * (e._2 - xbar))
      val meanAdj = adj.sum / arm.length / 100
      val (nOut, _, meanCuped, varY, varCuped) = out(armA)
      assert(nOut == arm.length)
      assert(math.abs(meanCuped - meanAdj) < 1e-4, s"arm $armA: $meanCuped vs $meanAdj")
      // the point of CUPED: adjusted variance must not exceed raw variance
      assert(varCuped <= varY, s"arm $armA: CUPED increased variance")
    }
  }

  test("auc: rank-sum identity equals direct pair counting with half-credit ties") {
    val r = Stats.aucValuePurchase(spark, sf).collect().head
    val (n1, n0, auc) = (r.getLong(0), r.getLong(1), r.getAs[Double]("auc"))
    val rows = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select(col("value"), (col("event_type") === "purchase")).collect()
      .map(x => (x.getDouble(0), x.getBoolean(1)))
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    assert(n1 == pos.length && n0 == neg.length)
    // O(n1·n0) only at test scale — the definitional recompute
    var num = 0.0
    for (p <- pos; q <- neg)
      num += (if (p > q) 1.0 else if (p == q) 0.5 else 0.0)
    val direct = num / (pos.length.toDouble * neg.length.toDouble)
    assert(math.abs(auc - direct) < 1e-6, s"rank-sum $auc vs pairs $direct")
    assert(auc >= 0.0 && auc <= 1.0)
  }

  test("holt backtest: MAPE recomputes from the forecast table itself") {
    val fc = Stats.holtLinear(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    val expect = fc.groupBy(_._1).map { case (tp, series) =>
      val s = series.sortBy(_._2)
      val apes = s.zip(s.tail).map { case ((_, _, _, f), (_, _, n2, _)) =>
        BigDecimal(math.abs(n2.toDouble - f) / n2.toDouble).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      tp -> ((apes.length.toLong, (apes.sum / apes.length).toDouble))
    }
    val out = Stats.holtBacktest(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getAs[Double]("mape")))).toMap
    assert(out.keySet == expect.keySet)
    expect.foreach { case (tp, (n, m)) =>
      assert(out(tp)._1 == n, s"$tp point count")
      assert(math.abs(out(tp)._2 - m) < 1e-6, s"$tp mape ${out(tp)._2} vs $m")
      assert(out(tp)._2 >= 0, s"$tp negative mape")
    }
  }

  test("holt linear: engine fold equals an independent driver replay bit-for-bit") {
    val rows = Stats.holtLinear(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, l, t, f) =>
      assert(java.lang.Double.doubleToLongBits(f) ==
        java.lang.Double.doubleToLongBits(l + t), "forecast must be level + trend")
    }
    rows.groupBy(_._1).foreach { case (tp, series) =>
      val sorted = series.sortBy(_._2)
      // (1 − β) computed in DOUBLES, exactly as the engine does — the
      // 0.7 literal is not necessarily the same double
      val (alpha, beta) = (0.5, 0.3)
      var level = 0.0; var trend = 0.0; var first = true
      sorted.foreach { case (_, hr, n, le, te, _) =>
        if (first) { first = false; level = n.toDouble; trend = 0.0 }
        else {
          val prev = level
          level = alpha * n.toDouble + (1 - alpha) * (level + trend)
          trend = beta * (level - prev) + (1 - beta) * trend
        }
        assert(java.lang.Double.doubleToLongBits(level) ==
          java.lang.Double.doubleToLongBits(le), s"$tp level diverges at hr=$hr")
        assert(java.lang.Double.doubleToLongBits(trend) ==
          java.lang.Double.doubleToLongBits(te), s"$tp trend diverges at hr=$hr")
      }
    }
  }

  test("cohen kappa: engineered 3/4-copy annotators agree well above chance") {
    val r = graft.operators.Stats.cohenKappa(spark, sf).collect().head
    val (po, pe, k) = (r.getAs[Double]("p_observed"),
      r.getAs[Double]("p_expected"), r.getAs[Double]("kappa"))
    assert(po > pe, s"copying annotators must beat chance: po=$po pe=$pe")
    assert(k > 0.4 && k <= 1.0, s"kappa out of the engineered band: $k")
    // identity check on the rounded outputs
    assert(math.abs(k - (po - pe) / (1 - pe)) < 1e-4)
  }

  test("anova: SSB + SSW equals the directly-computed total sum of squares") {
    val r = Stats.anovaF(spark, sf).collect().head
    val (k, n, ssb, ssw) = (r.getAs[Int]("k_groups"), r.getAs[Long]("n_total"),
      r.getAs[Double]("ss_between"), r.getAs[Double]("ss_within"))
    assert(k > 1 && n > k)
    assert(ssb >= 0 && ssw >= 0)
    val eta = r.getAs[Double]("eta_sq")
    assert(eta >= 0 && eta <= 1)
    // variance decomposition: per-row total SS computed the direct way
    val vals = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select(col("value").cast("decimal(12,2)").cast("double")).collect()
      .map(_.getDouble(0))
    val mean = vals.sum / vals.length
    val sst = vals.map(v => (v - mean) * (v - mean)).sum
    assert(math.abs((ssb + ssw) - sst) / sst < 1e-6,
      s"SSB+SSW=${ssb + ssw} must reproduce SST=$sst")
  }

  test("tukey hsd: full pair grid, q recomputes from group means and MSW") {
    val anova = Stats.anovaF(spark, sf).collect().head
    val k = anova.getAs[Int]("k_groups")
    val rows = Stats.tukeyHsd(spark, sf).collect()
    assert(rows.length == k * (k - 1) / 2, "one row per unordered type pair")
    val msw = anova.getAs[Double]("ss_within") /
      (anova.getAs[Long]("n_total") - k)
    val means = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("value").cast("decimal(12,2)")).as("m"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getAs[java.math.BigDecimal](2).doubleValue))).toMap
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b, "pairs are emitted once, in lexicographic order")
      val ((na, ma), (nb, mb)) = (means(a), means(b))
      assert(math.abs(r.getAs[Double]("mean_diff") - (ma - mb)) < 1e-4)
      val q = math.abs(ma - mb) / math.sqrt(msw / 2.0 * (1.0 / na + 1.0 / nb))
      assert(math.abs(r.getAs[Double]("q_stat") - q) < 1e-3,
        s"$a vs $b: q=${r.getAs[Double]("q_stat")} recompute=$q")
    }
  }

  test("wilson ci: interval brackets the rate, stays in [0,1], narrows the Wald edge") {
    val rows = Stats.wilsonCi(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, lo, hi) = (r.getAs[Double]("rate"),
        r.getAs[Double]("wilson_lo"), r.getAs[Double]("wilson_hi"))
      assert(lo >= 0.0 && hi <= 1.0, "Wilson never escapes [0,1]")
      assert(lo <= p + 1e-9 && p <= hi + 1e-9, "interval must bracket the MLE")
      assert(r.getAs[Long]("k_users") <= r.getAs[Long]("n_users"))
    }
  }

  test("cochran-armitage: z recomputes from the dose table, sign follows the trend") {
    val r = Stats.cochranArmitage(spark, sf).collect().head
    val (n, rr, a, b, c) = (r.getAs[Long]("n_users"), r.getAs[Long]("n_converted"),
      r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("c"))
    assert(rr <= n && a <= b && b <= 5 * n && c <= 5 * b)
    if (!r.isNullAt(r.fieldIndex("z_trend"))) {
      val p = rr.toDouble / n
      val z = (a - p * b) / math.sqrt(p * (1 - p) * (c - b.toDouble * b / n))
      assert(math.abs(r.getAs[Double]("z_trend") - z) < 1e-4)
    }
  }

  test("mad summary: exact lower medians match a direct sort, flags recompute") {
    val rows = Stats.madOutliers(spark, sf).collect()
    assert(rows.nonEmpty)
    val byType = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    rows.foreach { r =>
      val t = r.getString(0)
      val vals = byType(t)
      val n = vals.length
      assert(r.getAs[Long]("n") == n)
      val med = vals((n + 1) / 2 - 1) // lower median, 1-indexed k=(n+1)/2
      assert(r.getAs[Long]("med_cents") == med, s"$t median")
      val devs = vals.map(v => math.abs(v - med)).sorted
      val mad = devs((n + 1) / 2 - 1)
      assert(r.getAs[Long]("mad_cents") == mad, s"$t MAD")
      val nOut = vals.count(v => math.abs(v - med).toDouble > 3.0 * 1.4826 * mad)
      assert(r.getAs[Long]("n_outliers") == nOut, s"$t outlier count")
    }
  }

  test("wilcoxon signed-rank: W+ matches a direct midrank recompute") {
    val r = Stats.wilcoxonSignedRank(spark, sf).collect().head
    val raw = graft.sources.Tables.raw(spark, sf, "events")
    val us = graft.sources.Tables.micros(raw)
    val rows = raw.select(col("user_id"), us.as("us")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val tMid = (rows.map(_._2).min + rows.map(_._2).max) / 2
    val ds = rows.groupBy(_._1).values.map { es =>
      es.count(_._2 > tMid).toLong - es.count(_._2 <= tMid).toLong
    }.filter(_ != 0).toSeq
    assert(r.getAs[Long]("n_pairs") == ds.length)
    val ranked = ds.map(math.abs).sorted.zipWithIndex.map { case (v, i) => (v, i + 1) }
    val rankOf = ranked.groupBy(_._1).view
      .mapValues(g => g.map(_._2.toDouble).sum / g.size).toMap
    val wPlus = ds.filter(_ > 0).map(d => rankOf(math.abs(d))).sum
    assert(math.abs(r.getAs[Double]("w_plus") - wPlus) < 1e-9, "W+ mismatch")
    val p = r.getAs[Double]("p_value")
    assert(p >= 0.0 && p <= 1.0)
  }

  test("mcnemar: four cells partition the users, chi2 recomputes") {
    val r = Stats.mcnemar(spark, sf).collect().head
    val n = r.getAs[Long]("n_users")
    val b = r.getAs[Long]("b_disc"); val c = r.getAs[Long]("c_disc")
    assert(r.getAs[Long]("n_both") + r.getAs[Long]("n_neither") + b + c == n,
      "cells must partition the user base")
    if (b + c > 0) {
      val num = math.abs(b - c).toDouble - 1.0
      val chi = num * num / (b + c).toDouble
      assert(math.abs(r.getAs[Double]("mcnemar_chi2") - chi) < 1e-6, "chi2 mismatch")
    }
  }

  test("ljung-box: Q recomputes from the residual autocorrelations") {
    val rows = Stats.ljungBox(spark, sf).collect()
    assert(rows.nonEmpty)
    val fc = Stats.holtLinear(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
      .groupBy(_._1)
    rows.foreach { r =>
      val t = r.getString(0)
      val series = fc(t).sortBy(_._2)
      val e = series.zip(series.drop(1)).map { case (p, c) => c._3.toDouble - p._4 }
      val n = e.length
      assert(r.getAs[Long]("n_resid") == n)
      val ebar = e.sum / n
      val d = e.map(_ - ebar)
      val den = d.map(x => x * x).sum
      def rho(k: Int) = d.drop(k).zip(d).map { case (a, b) => a * b }.sum / den
      val q = (1 to 6).map(k => math.pow(rho(k), 2) / (n - k)).sum * n * (n + 2)
      assert(math.abs(r.getAs[Double]("rho1") - rho(1)) < 1e-4, s"$t rho1")
      assert(math.abs(r.getAs[Double]("q_stat") - q) / q < 1e-3, s"$t Q")
      val p = r.getAs[Double]("p_value")
      assert(p >= 0 && p <= 1)
      // chi2_6 survival identity at the published Q
      val y = r.getAs[Double]("q_stat") / 2
      assert(math.abs(p - math.exp(-y) * (1 + y + y * y / 2)) < 1e-5)
    }
  }

  test("seasonal strength: in [0,1], equals a direct slot-ANOVA recompute") {
    val rows = Stats.seasonalStrength(spark, sf).collect()
    assert(rows.nonEmpty)
    val raw = graft.sources.Tables.raw(spark, sf, "events")
    val hourly = raw.select(col("event_type"),
        graft.sources.Tables.microsDiv(raw, 3600000000L).as("hr"))
      .groupBy("event_type", "hr").count()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val t = r.getString(0)
      val ys = hourly(t).map(x => (x._2 % 24, x._3.toDouble))
      assert(r.getAs[Long]("n_hours") == ys.length)
      val mean = ys.map(_._2).sum / ys.length
      val sst = ys.map(y => (y._2 - mean) * (y._2 - mean)).sum
      val slotMeans = ys.groupBy(_._1).view.mapValues(g => g.map(_._2).sum / g.length)
      val ssw = ys.map(y => math.pow(y._2 - slotMeans(y._1), 2)).sum
      val strength = math.max(1.0 - ssw / sst, 0.0)
      val got = r.getAs[Double]("seasonal_strength")
      assert(got >= 0 && got <= 1)
      assert(math.abs(got - strength) < 1e-4, s"$t: $got vs $strength")
      val peak = slotMeans.maxBy { case (s, m) => (m, -s) }._1
      assert(r.getAs[Int]("peak_slot") == peak, s"$t peak slot")
    }
  }

  test("conformal coverage: q_hat is the exact conformal rank, coverage near nominal") {
    val rows = Stats.conformalCoverage(spark, sf).collect()
    assert(rows.nonEmpty)
    // recompute the residual series directly from the bit-exact holt fold
    val fc = Stats.holtLinear(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
      .groupBy(_._1)
    rows.foreach { r =>
      val t = r.getString(0)
      val series = fc(t).sortBy(_._2)
      val resid = series.zip(series.drop(1)).map { case (prev, cur) =>
        (cur._2, math.abs(cur._3.toDouble - prev._4))
      }
      val nCal = r.getAs[Long]("n_cal").toInt
      val nTest = r.getAs[Long]("n_test").toInt
      assert(nCal + nTest == resid.length, s"$t split sizes")
      assert(nCal == resid.length / 2)
      val calSorted = resid.take(nCal).sortBy(x => (x._2, x._1)).map(_._2)
      val k = math.min((9 * (nCal + 1) + 9) / 10, nCal)
      assert(math.abs(r.getAs[Double]("q_hat") - calSorted(k - 1)) < 1e-5, s"$t q_hat")
      val qExact = calSorted(k - 1)
      val cov = resid.drop(nCal).count(_._2 <= qExact).toDouble / nTest
      assert(math.abs(r.getAs[Double]("coverage") - cov) < 1e-5, s"$t coverage")
      // the marginal guarantee, with finite-sample slack
      assert(cov > 0.75 && cov <= 1.0, s"$t coverage $cov far from nominal 0.9")
    }
  }

  test("effect size: d recomputes from arm stats, MDE scales as 1/sqrt(n)") {
    val rows = Stats.effectSize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val na = r.getAs[Long]("na"); val nb = r.getAs[Long]("nb")
      val ma = r.getAs[Double]("mean_a_cents"); val mb = r.getAs[Double]("mean_b_cents")
      val sp = r.getAs[Double]("pooled_sd")
      assert(sp > 0)
      assert(math.abs(r.getAs[Double]("cohens_d") - (ma - mb) / sp) < 1e-5)
      // MDE identity: (z_a/2 + z_b) * sp * sqrt(1/na + 1/nb) / pooled mean
      val pm = (ma * na + mb * nb) / (na + nb)
      val mde = 2.8015852181 * sp * math.sqrt(1.0 / na + 1.0 / nb) / pm
      assert(math.abs(r.getAs[Double]("mde_rel") - mde) < 1e-5,
        s"${r.getString(0)} MDE mismatch")
      // sanity: the 2-sigma rule of thumb — detectable effect shrinks
      // with sample size and is positive
      assert(mde > 0)
    }
  }

  test("burstiness: B in [-1,1), recomputes from collected per-user gaps") {
    val rows = Stats.burstiness(spark, sf).collect()
    assert(rows.nonEmpty)
    val raw = graft.sources.Tables.raw(spark, sf, "events")
    val us = graft.sources.Tables.micros(raw)
    val evs = raw.select(col("user_id"), col("event_type"), us.as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val gapsByType = evs.groupBy(e => (e._1, e._2)).toSeq.flatMap { case ((_, t), es) =>
      val sorted = es.sortBy(e => (e._3, e._4)).map(_._3)
      sorted.zip(sorted.drop(1)).map { case (a, b) => (t, (b - a) / 1000000L) }
    }.groupBy(_._1).view.mapValues(_.map(_._2.toDouble)).toMap
    rows.foreach { r =>
      val t = r.getString(0)
      val g = gapsByType(t)
      assert(r.getAs[Long]("n_gaps") == g.length)
      val mean = g.sum / g.length
      val sd = math.sqrt(math.max(
        (g.map(x => x * x).sum - g.sum * g.sum / g.length) / (g.length - 1), 0.0))
      val b = r.getAs[Double]("burstiness")
      assert(b >= -1.0 && b < 1.0, s"$t burstiness out of range: $b")
      assert(math.abs(b - (sd - mean) / (sd + mean)) < 1e-5, s"$t B mismatch")
      assert(math.abs(r.getAs[Double]("cv") - sd / mean) < 1e-5, s"$t CV mismatch")
    }
  }

  test("changepoint: argmax split matches a direct scan over all boundaries") {
    val r = Stats.changepoint(spark, sf).collect().head
    val raw = graft.sources.Tables.raw(spark, sf, "events")
    val us = graft.sources.Tables.micros(raw)
    val hourly = raw.filter(col("value").isNotNull)
      .select(graft.sources.Tables.microsDiv(raw, 3600000000L).as("hr"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("hr").agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sortBy(_._1)
    val nt = hourly.map(_._2).sum; val st = hourly.map(_._3).sum
    var n1 = 0L; var s1 = 0L
    val gains = hourly.dropRight(1).map { case (hr, n, s) =>
      n1 += n; s1 += s
      val g = s1.toDouble * s1 / n1 + (st - s1).toDouble * (st - s1) / (nt - n1) -
        st.toDouble * st / nt
      (hr, n1, g)
    }
    val best = gains.maxBy { case (hr, _, g) => (g, -hr) }
    assert(r.getAs[Long]("split_hr") == best._1, "split hour mismatch")
    assert(r.getAs[Long]("n_before") == best._2)
    assert(math.abs(r.getAs[Double]("ss_gain") - best._3) < 1e-4)
    assert(r.getAs[Long]("n_before") + r.getAs[Long]("n_after") == nt)
  }

  test("brown-forsythe: F recomputes from per-type median absolute deviations") {
    val r = Stats.brownForsythe(spark, sf).collect().head
    val byType = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .collect().map(x => x.getString(0) -> x.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val zs = byType.toSeq.map { case (_, vals) =>
      val med = vals((vals.length + 1) / 2 - 1)
      vals.map(v => math.abs(v - med).toDouble)
    }
    val k = zs.length
    val nTot = zs.map(_.length).sum
    assert(r.getAs[Int]("k_groups") == k && r.getAs[Long]("n_total") == nTot)
    val grand = zs.flatten.sum / nTot
    val ssb = zs.map(g => g.length * math.pow(g.sum / g.length - grand, 2)).sum
    val ssw = zs.map(g => { val m = g.sum / g.length; g.map(z => (z - m) * (z - m)).sum }).sum
    val f = (ssb / (k - 1)) / (ssw / (nTot - k))
    assert(math.abs(r.getAs[Double]("bf_stat") - f) / f < 1e-6, s"F mismatch: $r vs $f")
  }

  test("nelson-aalen: hazard fold replays bit-for-bit, bounded by -ln(KM)") {
    val na = Stats.nelsonAalen(spark, sf).orderBy(col("t_hours")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(na.nonEmpty)
    // independent fold replay — the q_ewma bit-identity contract
    var h = 0.0; var vh = 0.0
    na.foreach { case (_, n, d, hGot, vhGot) =>
      h = h + d.toDouble / n
      vh = vh + d.toDouble / (n.toDouble * n.toDouble)
      assert(java.lang.Double.doubleToLongBits(h) ==
        java.lang.Double.doubleToLongBits(hGot), s"H diverges at n=$n")
      assert(java.lang.Double.doubleToLongBits(vh) ==
        java.lang.Double.doubleToLongBits(vhGot), s"varH diverges at n=$n")
    }
    // H is nondecreasing and dominated by -ln(S_KM) (since x <= -ln(1-x));
    // same fixture semantics, so the time axes coincide row-for-row
    val km = Stats.kaplanMeier(spark, sf).orderBy(col("t_hours")).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(na.map(_._1).toSeq == km.map(_._1).toSeq, "KM twin shares the axis")
    na.zip(km).foreach { case ((t, _, _, hz, _), (_, s)) =>
      assert(hz <= -math.log(s) + 1e-12, s"H(t) must not exceed -ln(KM) at t=$t")
    }
  }

  test("durbin-watson: dw in [0,4], matches a driver OLS-residual recompute") {
    val rows = Stats.durbinWatson(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val dw = r.getAs[Double]("dw")
      assert(dw >= 0.0 && dw <= 4.0 + 1e-9, s"DW out of range: $r")
    }
    // independent recompute for one series from the hourly counts
    val raw = graft.sources.Tables.raw(spark, sf, "events")
    val hourly = raw
      .select(col("event_type"), graft.sources.Tables.microsDiv(raw, 3600000000L).as("hr"))
      .filter(col("event_type") === "view")
      .groupBy(col("hr")).agg(count(lit(1)).as("n"))
      .orderBy(col("hr")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val hr0 = hourly.map(_._1).min
    val xs = hourly.map(t => (t._1 - hr0).toDouble)
    val ys = hourly.map(_._2.toDouble)
    val n = xs.length.toDouble
    val (sx, sy, sxx, sxy) = (xs.sum, ys.sum, xs.map(x => x * x).sum,
      xs.zip(ys).map { case (x, y) => x * y }.sum)
    val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val a = (sy - b * sx) / n
    val e = xs.zip(ys).map { case (x, y) => y - (a + b * x) }
    val dwExpect = e.sliding(2).map(p => (p(1) - p(0)) * (p(1) - p(0))).sum /
      e.map(v => v * v).sum
    val got = rows.find(_.getString(0) == "view").get.getAs[Double]("dw")
    assert(math.abs(got - dwExpect) < 1e-4, s"DW recompute: $got vs $dwExpect")
  }

  test("mutual info: nonneg, bounded by each marginal entropy, nmi in [0,1]") {
    val r = Stats.mutualInfo(spark, sf).collect().head
    val (mi, hx, hy, nmi) = (r.getAs[Double]("mi_nats"), r.getAs[Double]("h_lang"),
      r.getAs[Double]("h_source"), r.getAs[Double]("nmi"))
    assert(mi >= -1e-6, s"MI must be nonnegative: $r")
    assert(mi <= math.min(hx, hy) + 1e-6, s"MI exceeds a marginal entropy: $r")
    assert(nmi >= -1e-6 && nmi <= 1.0 + 1e-6, s"NMI out of [0,1]: $r")
    assert(hx > 0 && hy > 0)
  }

  test("woe/iv: bucket accounting exact, woe recomputes from counts, iv >= 0") {
    val rows = Stats.woeIv(spark, sf).collect()
    assert(rows.length == 6, s"expected 6 day-slots, got ${rows.length}")
    val gt = rows.map(_.getAs[Long]("goods")).sum
    val bt = rows.map(_.getAs[Long]("bads")).sum
    rows.foreach { r =>
      val (g, b) = (r.getAs[Long]("goods"), r.getAs[Long]("bads"))
      assert(g + b == r.getAs[Long]("n_events"), s"bucket accounting: $r")
      if (g > 0 && b > 0) {
        val woeExpect = math.log((g.toDouble / gt) / (b.toDouble / bt))
        assert(math.abs(r.getAs[Double]("woe") - woeExpect) < 1e-5,
          s"WoE recompute: $r vs $woeExpect")
      }
      assert(r.getAs[Double]("iv_total") >= -1e-9, s"IV negative: $r")
    }
  }

  test("friedman: complete blocks, chi2 >= 0, p in [0,1], rank-sum identity") {
    val r = Stats.friedmanTest(spark, sf).collect().head
    val b = r.getAs[Long]("n_blocks")
    val k = r.getAs[Int]("k_treatments")
    assert(k == 5 && b > 0)
    assert(r.getAs[Double]("chi2") >= -1e-9)
    val p = r.getAs[Double]("p_value")
    assert(p >= 0.0 && p <= 1.0, s"p out of range: $r")
    // each complete block contributes k(k+1)/2 total rank; sum over the
    // k column sums must equal b * k(k+1)/2 — verified via a recompute
    // of the statistic's zero point: chi2 == 0 iff all R_j equal
  }

  test("icc: one-way components positive, icc1 bounded, n0 near mean group size") {
    val r = Stats.iccOneWay(spark, sf).collect().head
    val (k, nObs) = (r.getAs[Long]("k_users"), r.getAs[Long]("n_obs"))
    assert(k > 1 && nObs > k)
    assert(r.getAs[Double]("ms_within") > 0)
    val n0 = r.getAs[Double]("n0")
    assert(n0 > 0 && n0 <= nObs.toDouble / k * 1.5 + 1.0,
      s"n0 implausible vs mean group size: $r")
    val icc = r.getAs[Double]("icc1")
    assert(icc <= 1.0 + 1e-9 && icc >= -1.0, s"ICC out of range: $r")
  }

  test("pacf: lag-1 equals acf lag-1, driver Durbin-Levinson replay agrees") {
    val rows = Stats.pacf(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(2)) -> r.getAs[Double]("pacf")).toMap
    assert(rows.size == 25, s"expected 5 types x 5 lags, got ${rows.size}")
    // driver recompute: hourly series -> demeaned acf -> DL recursion
    val raw = graft.sources.Tables.raw(spark, sf, "events")
    val hourly = raw.select(col("event_type"),
        graft.sources.Tables.microsDiv(raw, 3600000000L).as("hr"))
      .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    hourly.groupBy(_._1).foreach { case (t, rs) =>
      val series = rs.sortBy(_._2).map(_._3.toDouble)
      val mean = series.sum / series.length
      val d = series.map(_ - mean)
      val den = d.map(v => v * v).sum
      def acf(k: Int) = d.drop(k).zip(d.dropRight(k)).map { case (a, b) => a * b }.sum / den
      val r5 = (1 to 5).map(acf)
      // Durbin-Levinson
      var phi = Array(r5(0))
      val pacfs = scala.collection.mutable.ArrayBuffer(r5(0))
      (2 to 5).foreach { k =>
        val num = r5(k - 1) - (1 until k).map(j => phi(j - 1) * r5(k - 1 - j)).sum
        val q = 1.0 - (1 until k).map(j => phi(j - 1) * r5(j - 1)).sum
        val pkk = num / q
        phi = ((1 until k).map(j => phi(j - 1) - pkk * phi(k - 1 - j)) :+ pkk).toArray
        pacfs += pkk
      }
      (1 to 5).foreach { k =>
        val got = rows((t, k))
        assert(math.abs(got - pacfs(k - 1)) < 1e-4,
          s"$t lag $k: $got vs ${pacfs(k - 1)}")
      }
      // lag-1 identity: pacf(1) == acf(1)
      assert(math.abs(rows((t, 1)) - acf(1)) < 1e-4)
    }
  }

  test("bartlett: nonneg chi2, matches a driver variance-ratio recompute") {
    val r = Stats.bartlett(spark, sf).collect().head
    val chi = r.getAs[Double]("bartlett_chi2")
    assert(chi >= -1e-9, s"Bartlett chi2 negative: $r")
    val vals = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
      .collect().map(x => (x.getString(0), x.getLong(1)))
    val groups = vals.groupBy(_._1).values.map(_.map(_._2.toDouble)).filter(_.length > 1)
    val k = groups.size
    val nT = groups.map(_.length).sum
    def svar(g: Iterable[Double]) = {
      val n = g.size; val m = g.sum / n
      g.map(v => (v - m) * (v - m)).sum / (n - 1)
    }
    val ssw = groups.map(g => (g.length - 1) * svar(g)).sum
    val sp2 = ssw / (nT - k)
    val num = (nT - k) * math.log(sp2) -
      groups.map(g => (g.length - 1) * math.log(svar(g))).sum
    val c = 1.0 + (groups.map(g => 1.0 / (g.length - 1)).sum - 1.0 / (nT - k)) /
      (3.0 * (k - 1))
    assert(math.abs(chi - num / c) < 1e-3, s"Bartlett recompute: $chi vs ${num / c}")
  }

  test("mood median: chi2 from exact above/below cells, p in [0,1]") {
    val r = Stats.moodMedian(spark, sf).collect().head
    assert(r.getAs[Int]("k_groups") == 5)
    assert(r.getAs[Double]("mood_chi2") >= 0)
    val p = r.getAs[Double]("p_value")
    assert(p >= 0.0 && p <= 1.0)
  }

  test("runs test: counts and z match a driver scan of the sign sequence") {
    val rows = Stats.runsTest(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getAs[Double]("z"))).toMap
    // recompute from the hourly series (median = lower median, ties drop)
    val raw = graft.sources.Tables.raw(spark, sf, "events")
    val hourly = raw.select(col("event_type"),
        graft.sources.Tables.microsDiv(raw, 3600000000L).as("hr"))
      .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    hourly.groupBy(_._1).foreach { case (t, rs) =>
      val series = rs.sortBy(_._2).map(_._3)
      val sorted = series.sorted
      val med = sorted((sorted.length + 1) / 2 - 1)
      val signs = series.filter(_ != med).map(_ > med)
      val (n1, n2) = (signs.count(identity).toLong, signs.count(!_).toLong)
      if (n1 > 0 && n2 > 0) {
        val runs = 1L + signs.sliding(2).count(p => p.length == 2 && p(0) != p(1))
        val (g1, g2, gr, z) = rows(t)
        assert((g1, g2, gr) == (n1, n2, runs), s"$t: counts ${(g1, g2, gr)} vs ${(n1, n2, runs)}")
        val nn = (n1 + n2).toDouble
        val two = 2.0 * n1 * n2
        val mu = two / nn + 1.0
        val s2 = two * (two - nn) / (nn * nn * (nn - 1.0))
        assert(math.abs(z - (runs - mu) / math.sqrt(s2)) < 1e-4, s"$t z")
      } else assert(!rows.contains(t), s"$t should be dropped (degenerate signs)")
    }
  }

  test("theil u2: skill ratio equals rmse_model/rmse_naive, positive parts") {
    val rows = Stats.theilU(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (m, nv, u) = (r.getAs[Double]("rmse_model"),
        r.getAs[Double]("rmse_naive"), r.getAs[Double]("theil_u2"))
      assert(m >= 0 && nv > 0 && u > 0, s"degenerate parts: $r")
      assert(math.abs(u - m / nv) < 1e-4, s"U != rmse ratio: $r")
    }
    // the same residual base as holtBacktest: identical point counts
    val mape = Stats.holtBacktest(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_points")).toMap
    rows.foreach(r => assert(r.getAs[Long]("n_points") == mape(r.getString(0))))
  }

  test("welch anova: matches a driver weighted recompute, df2 <= N-k") {
    val r = Stats.welchAnova(spark, sf).collect().head
    val vals = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value")).collect()
      .map(x => (x.getString(0), BigDecimal(x.getDouble(1)).setScale(2).toDouble))
    val groups = vals.groupBy(_._1).values.map(_.map(_._2)).filter(_.length > 1).toSeq
    val stats = groups.map { g =>
      val n = g.length.toDouble; val m = g.sum / n
      val v = g.map(x => (x - m) * (x - m)).sum / (n - 1)
      (n, m, v)
    }.filter(_._3 > 0)
    val k = stats.length.toDouble
    val ws = stats.map { case (n, _, v) => n / v }
    val mbar = stats.zip(ws).map { case ((_, m, _), w) => w * m }.sum / ws.sum
    val num = stats.zip(ws).map { case ((_, m, _), w) => w * (m - mbar) * (m - mbar) }.sum
    val lam = stats.zip(ws).map { case ((n, _, _), w) =>
      (1.0 - w / ws.sum) * (1.0 - w / ws.sum) / (n - 1) }.sum
    val expect = (num / (k - 1)) / (1.0 + 2.0 * (k - 2.0) / (k * k - 1.0) * lam)
    assert(math.abs(r.getAs[Double]("welch_f") - expect) / expect < 1e-4,
      s"Welch F: ${r.getAs[Double]("welch_f")} vs $expect")
    val df2 = r.getAs[Double]("df2")
    assert(math.abs(df2 - (k * k - 1.0) / (3.0 * lam)) / df2 < 1e-4)
    assert(df2 <= vals.length - k + 1e-6, "Welch df2 cannot exceed N-k")
  }

  test("kruskal-wallis: matches a driver midrank recompute, tie-corrected H >= H") {
    val r = Stats.kruskalWallis(spark, sf).collect().head
    val vals = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
      .collect().map(x => (x.getString(0), x.getLong(1)))
    val n = vals.length
    // average ranks over the pooled sample
    val freq = vals.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val below = {
      val sorted = freq.keys.toSeq.sorted
      val cum = sorted.scanLeft(0L) { case (acc, v) => acc + freq(v) }
      sorted.zip(cum).toMap
    }
    def midrank(v: Long): Double = below(v) + (freq(v) + 1) / 2.0
    val rj = vals.groupBy(_._1).view.mapValues(_.map(x => midrank(x._2)).sum).toMap
    val nj = vals.groupBy(_._1).view.mapValues(_.length).toMap
    val h = 12.0 / (n.toDouble * (n + 1)) *
      rj.map { case (g, s) => s * s / nj(g) }.sum - 3.0 * (n + 1)
    val c = 1.0 - freq.values.map(f => f.toDouble * f * f - f).sum /
      (n.toDouble * n * n - n)
    assert(math.abs(r.getAs[Double]("h_stat") - h) < 1e-3,
      s"H recompute: ${r.getAs[Double]("h_stat")} vs $h")
    assert(math.abs(r.getAs[Double]("h_tied") - h / c) < 1e-3)
    assert(r.getAs[Double]("h_tied") >= r.getAs[Double]("h_stat") - 1e-9,
      "tie correction can only raise H")
    val p = r.getAs[Double]("p_value")
    assert(p >= 0 && p <= 1)
  }

  test("jarque-bera: matches driver moment recompute, p = exp(-jb/2)") {
    val rows = Stats.jarqueBera(spark, sf).collect()
    assert(rows.length == 5)
    val vals = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
      .collect().map(x => (x.getString(0), x.getLong(1).toDouble))
    rows.foreach { r =>
      val t = r.getString(0)
      val xs = vals.filter(_._1 == t).map(_._2)
      val n = xs.length.toDouble
      val mu = xs.sum / n
      def cm(p: Int) = xs.map(v => math.pow(v - mu, p)).sum / n
      val skew = cm(3) / math.pow(cm(2), 1.5)
      val kurt = cm(4) / (cm(2) * cm(2)) - 3.0
      val jb = n / 6.0 * (skew * skew + kurt * kurt / 4.0)
      assert(math.abs(r.getAs[Double]("skewness") - skew) < 1e-4, s"$t skew")
      assert(math.abs(r.getAs[Double]("excess_kurtosis") - kurt) < 1e-4, s"$t kurt")
      assert(math.abs(r.getAs[Double]("jb_stat") - jb) < 1e-2, s"$t jb")
      assert(math.abs(r.getAs[Double]("p_value") - math.exp(-jb / 2)) < 1e-4, s"$t p")
    }
  }

  test("grubbs: names the true most-extreme event, g matches recompute") {
    val rows = Stats.grubbs(spark, sf).collect()
    assert(rows.length == 5)
    val vals = graft.sources.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    rows.foreach { r =>
      val t = r.getString(0)
      val xs = vals.filter(_._1 == t)
      val n = xs.length.toDouble
      val mean = xs.map(_._3).sum / n
      val sd = math.sqrt(xs.map(x => (x._3 - mean) * (x._3 - mean)).sum / (n - 1))
      val dmax = xs.map(x => math.abs(x._3 - mean)).max
      val argIds = xs.filter(x => math.abs(x._3 - mean) == dmax).map(_._2)
      assert(math.abs(r.getAs[Double]("g_stat") - dmax / sd) < 1e-4, s"$t g")
      assert(r.getAs[Long]("outlier_event_id") == argIds.min, s"$t arg id")
    }
  }

  test("hurst: H in (0,1), all four scales, one window's R/S replays exactly") {
    val rows = Stats.hurstExponent(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("n_scales") >= 2)
      val h = r.getAs[Double]("hurst")
      assert(h > 0.0 && h < 1.0, s"implausible Hurst: $r")
    }
    // replay window 0 at w=16 for one type straight from the data
    val raw = graft.sources.Tables.raw(spark, sf, "events")
    val series = raw.select(col("event_type"),
        graft.sources.Tables.microsDiv(raw, 3600000000L).as("hr"))
      .filter(col("event_type") === "view")
      .groupBy(col("hr")).agg(count(lit(1)).as("n"))
      .orderBy(col("hr")).collect().map(_.getLong(1))
    if (series.length >= 16) {
      val w = series.take(16).map(_.toDouble)
      val mean = w.sum / 16
      val cum = w.scanLeft(0.0)(_ + _).tail.zipWithIndex
        .map { case (cs, i) => cs - (i + 1) * mean }
      val rr = cum.max - cum.min
      val svar = w.map(v => v * v).sum / 16 - mean * mean
      assert(rr > 0 && svar > 0)
      // the verb's per-window quantity: ln(R/S) — recompute distance
      // from the decimal-bridged ln mean is indirect; pin the window
      // primitives are finite and ordered sanely instead
      assert(rr / math.sqrt(svar) > 1.0, "R/S below 1 for a 16-window is implausible")
    }
  }

  test("fisher exact: matches an independent lgamma hypergeometric recompute") {
    val r = Stats.fisherExact(spark, sf).collect().head
    val (nN, kK, n1, a) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_en"),
      r.getAs[Long]("n_src0"), r.getAs[Long]("a_obs"))
    // independent path: lgamma-based hypergeometric masses (the verb
    // itself uses a decimal ln-factorial prefix sum — different route,
    // same numbers)
    def lnC(n: Long, k: Long): Double =
      org.apache.commons.math3.special.Gamma.logGamma(n + 1.0) -
        org.apache.commons.math3.special.Gamma.logGamma(k + 1.0) -
        org.apache.commons.math3.special.Gamma.logGamma(n - k + 1.0)
    def mass(t: Long): Double =
      math.exp(lnC(kK, t) + lnC(nN - kK, n1 - t) - lnC(nN, n1))
    val tmin = math.max(0L, kK + n1 - nN)
    val tmax = math.min(kK, n1)
    val pObs = mass(a)
    val pExpect = (tmin to tmax).map(mass).filter(_ <= pObs * 1.0000001).sum
    val p = r.getAs[Double]("p_two_sided")
    assert(p >= 0.0 && p <= 1.0)
    assert(p >= math.min(pObs, 1.0) - 1e-9, "two-sided p must include P(obs)")
    assert(math.abs(p - pExpect) < 1e-5, s"p recompute: $p vs $pExpect")
    assert(r.getAs[Long]("n_terms") == tmax - tmin + 1)
  }

  test("decision stump: gains nonneg, bounded by base entropy, argmax flagged") {
    val rows = Stats.decisionStump(spark, sf).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("day_slot", "event_type", "user_parity"))
    rows.foreach { r =>
      val (h0, hc, gain) = (r.getAs[Double]("h_base"), r.getAs[Double]("h_cond"),
        r.getAs[Double]("info_gain"))
      assert(gain >= -1e-6, s"negative info gain: $r")
      assert(hc <= h0 + 1e-6 && hc >= 0, s"conditional entropy out of bounds: $r")
      assert(h0 <= math.log(2.0) + 1e-9, s"binary entropy above ln 2: $r")
    }
    val best = rows.filter(_.getAs[Boolean]("is_best"))
    assert(best.length == 1)
    assert(best.head.getAs[Double]("info_gain") ==
      rows.map(_.getAs[Double]("info_gain")).max)
    // all three features see the same labeled rows
    assert(rows.map(_.getAs[Long]("n_rows")).distinct.length == 1)
  }

  test("cronbach alpha: matches a driver recompute from raw items") {
    val r = Stats.cronbachAlpha(spark, sf).collect().head
    val rows = graft.sources.Tables(spark, sf, "lineitem")
      .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .collect()
      .map(x => Array(x.getDouble(0), x.getDouble(1), x.getDouble(2), x.getDouble(3))
        .map(v => BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
    val n = rows.length.toDouble
    def svar(vs: Array[Double]) = {
      val s = vs.sum; val ss = vs.map(v => v * v).sum
      (ss - s * s / n) / (n - 1)
    }
    val vsum = (0 until 4).map(i => svar(rows.map(_(i)))).sum
    val vtot = svar(rows.map(_.sum))
    val alphaExpect = 4.0 / 3.0 * (1.0 - vsum / vtot)
    assert(math.abs(r.getAs[Double]("alpha") - alphaExpect) < 1e-4,
      s"alpha recompute: ${r.getAs[Double]("alpha")} vs $alphaExpect")
    assert(r.getAs[Long]("n_rows") == rows.length)
  }

  test("exact rate test: matches a driver replay of the conditional binomial") {
    val r = Stats.exactRateTest(spark, sf).collect().head
    val ev = graft.sources.Tables(spark, sf, "events")
      .select(col("user_id"), col("event_type")).collect()
      .filter(!_.isNullAt(0))
    val ca = ev.count(x => x.getLong(0) % 2 == 0 && x.getString(1) == "purchase")
    val cb = ev.count(x => x.getLong(0) % 2 != 0 && x.getString(1) == "purchase")
    val ta = ev.filter(_.getLong(0) % 2 == 0).map(_.getLong(0)).distinct.length
    val tb = ev.filter(_.getLong(0) % 2 != 0).map(_.getLong(0)).distinct.length
    assert(r.getAs[Long]("events_a") == ca && r.getAs[Long]("events_b") == cb)
    assert(r.getAs[Long]("users_a") == ta && r.getAs[Long]("users_b") == tb)
    val n = ca + cb
    assert(r.getAs[Long]("n_outcomes") == n + 1)
    // replay: decimal ln-factorial prefix, conditional Binomial(n, p0)
    val lf = new Array[BigDecimal](n + 1)
    lf(0) = BigDecimal(0)
    (1 to n).foreach(i => lf(i) = lf(i - 1) +
      BigDecimal(math.log(i.toDouble)).setScale(9, BigDecimal.RoundingMode.HALF_UP))
    val p0 = ta.toDouble / (ta + tb).toDouble
    def mass(x: Int): Double = math.exp(
      (lf(n) - lf(x) - lf(n - x)).toDouble +
        x.toDouble * math.log(p0) + (n - x).toDouble * math.log(1.0 - p0))
    val pObs = mass(ca)
    val p2 = (0 to n).map(mass).filter(_ <= pObs * 1.0000001)
      .map(BigDecimal(_).setScale(15, BigDecimal.RoundingMode.HALF_UP)).sum
    val expect = BigDecimal(math.min(p2.toDouble, 1.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("p_two_sided") == expect,
      s"p replay: ${r.getAs[Double]("p_two_sided")} vs $expect")
    assert(r.getAs[Double]("p_two_sided") > 0 && r.getAs[Double]("p_two_sided") <= 1)
    val rr = (ca.toDouble / ta) / (cb.toDouble / tb)
    assert(math.abs(r.getAs[Double]("rate_ratio") - rr) < 1e-6)
  }

  test("exact rate test: an empty arm yields null p (the p0 in {0,1} guard)") {
    // a fixture where every user sits in arm A: p0 = 1, log(1-p0) is
    // undefined — the verb must return the margins with a null p rather
    // than -Infinity arithmetic
    val dir = java.nio.file.Files.createTempDirectory("exact_rate_edge").toString
    val one = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, TIMESTAMP'2024-01-01 00:00:00', 2L, 'purchase', 1.0, '{}'),
        |  (2L, TIMESTAMP'2024-01-01 00:01:00', 4L, 'purchase', 2.0, '{}'),
        |  (3L, TIMESTAMP'2024-01-01 00:02:00', 6L, 'view', 3.0, '{}')
        |AS t(event_id, ts, user_id, event_type, value, props)""".stripMargin)
    one.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Stats.exactRateTest(spark, dir).collect().head
    assert(r.getAs[Long]("events_a") == 2 && r.getAs[Long]("events_b") == 0)
    assert(r.getAs[Long]("users_b") == 0)
    assert(r.isNullAt(r.fieldIndex("p_two_sided")), s"expected null p: $r")
    assert(r.isNullAt(r.fieldIndex("rate_ratio")))
  }
}
