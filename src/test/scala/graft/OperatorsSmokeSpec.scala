package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Every declared query runs and returns rows at sf0.001 (the DuckDB
  * hash-match itself is the driver's t2 gate; this pins "nothing in the
  * surface is broken or silently empty").
  */
class OperatorsSmokeSpec extends AnyFunSuite {

  // every output column executes (Bench.force, not .count(), which
  // Catalyst would prune down to a bare scan); the rows are counted by an
  // Observation on that same run
  SparkEntry.registry.foreach { q =>
    test(s"${q.name} runs at sf0.001") {
      val rows = Observation()
      Bench.force(q.build(TestSpark.spark, TestSpark.sf0001).observe(rows, count(lit(1)).as("n")))
      val n = rows.get("n").asInstanceOf[Long]
      if (!q.mayBeEmpty) assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("every cautionary twin pair is registered and shares one oracle") {
    val cautionary = SparkEntry.registry.filter(_.cautionaryTwin.isDefined)
    assert(cautionary.nonEmpty)
    cautionary.foreach { q =>
      val twin = q.cautionaryTwin.get
      assert(SparkEntry.queries.contains(twin), s"$twin is not a query")
      assert(q.oracle.isDefined, s"${q.name} has no oracle")
      assert(q.oracle == SparkEntry.oracleSql.get(twin), s"${q.name} and $twin oracles differ")
    }
  }

  test("the rows-only queries are exactly the nine without a SQL replay") {
    // an oracle lost in an edit would otherwise read as one more rows-only
    // PASS in compare_oracle.py
    assert(SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name).toSet == Set(
      "q_approx_distinct", "q_approx_percentiles", "q_compression_ratio", "q_hll_merge",
      "q_kll_quantiles", "q_stream_hll", "q_stream_kll", "q_stream_topk", "q_stream_watermarked"))
  }

  test("a name registered twice fails the registry and is named") {
    val q = SparkEntry.registry.head
    val e = intercept[IllegalArgumentException] {
      SparkEntry.validated(Seq(q, q.copy(oracle = None)))
    }
    assert(e.getMessage.contains(q.name), e.getMessage)
  }

  test("approx_count_distinct within 5% of exact") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables(spark, TestSpark.sf0001, "lineitem")
    val exact = li.select(countDistinct(col("l_partkey"))).collect().head.getLong(0)
    val approx = graft.operators.Relational.approxDistinct(spark, TestSpark.sf0001)
      .collect().head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }

  test("approx percentiles within 1% of exact per group") {
    val exact = graft.operators.Relational.percentiles(TestSpark.spark, TestSpark.sf0001)
      .collect().map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val approx = graft.operators.Relational.approxPercentiles(TestSpark.spark, TestSpark.sf0001)
      .collect().map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(approx.keySet == exact.keySet)
    for ((flag, aqs) <- approx; (a, e) <- aqs.zip(exact(flag)))
      assert(math.abs(a - e) / e < 0.01, s"$flag: approx $a vs exact $e")
  }

  test("distributed percentiles equal percentile_cont exactly, under BOTH exchange-reuse settings") {
    val spark = TestSpark.spark
    val exact = graft.operators.Relational.percentiles(spark, TestSpark.sf0001)
      .collect().map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // slice ids come from driver-collected split-point literals, so the
    // answer must not depend on ReuseExchange keeping consumers in sync
    // (a spark_partition_id-over-range-exchange design breaks here)
    for (reuse <- Seq("true", "false")) {
      val before = spark.conf.get("spark.sql.exchange.reuse", "true")
      spark.conf.set("spark.sql.exchange.reuse", reuse)
      try {
        val dist = graft.operators.Relational.distributedPercentiles(spark, TestSpark.sf0001)
        val got = dist.collect()
          .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
        // EXACT equality — the whole point: same numbers, bounded-state plan
        assert(got == exact, s"reuse=$reuse: distributed $got vs buffered $exact")
        val plan = dist.queryExecution.executedPlan.toString
        assert(!plan.contains("percentile"), s"fell back to the buffering aggregate:\n$plan")
        assert(!plan.contains("rangepartitioning"),
          s"sampling-dependent range exchange reappeared in:\n$plan")
      } finally spark.conf.set("spark.sql.exchange.reuse", before)
    }
    // the ps parameter drives the pivot: non-default fractions get
    // matching column names and values (was hardcoded to 3 entries)
    val custom = graft.operators.Relational.distributedPercentiles(
      spark, TestSpark.sf0001, ps = Seq(0.1, 0.9))
    assert(custom.columns.toSeq == Seq("l_returnflag", "p10", "p90"), custom.columns.mkString(","))
    assert(custom.collect().forall(r => r.getDouble(1) <= r.getDouble(2)))
  }

  test("quantile core: equals driver quantile_cont on adversarial group shapes") {
    // the core now underpins four queries (percentiles_dist, winsorize,
    // mad_outliers ×2) — randomized trials over the shapes the fixtures
    // can't vary: singleton groups, constant groups, heavy ties,
    // negatives, and partitionings from 1 to 13
    val spark = TestSpark.spark
    import spark.implicits._
    def q(vs: Seq[Double], p: Double): Double = {
      val s = vs.sorted
      val pos = p * (s.length - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, s.length - 1)
      BigDecimal(s(lo) + (pos - lo) * (s(hi) - s(lo)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rnd = new scala.util.Random(11)
    (1 to 8).foreach { trial =>
      val groups = 1 + rnd.nextInt(3)
      val data = (0 until groups).flatMap { g =>
        val n = 1 + rnd.nextInt(40)
        val constant = rnd.nextBoolean() && g == 0
        (0 until n).map { _ =>
          val v = if (constant) 7.5
            else math.rint((rnd.nextDouble() * 40 - 20) * 4) / 4  // heavy ties
          (s"g$g", v)
        }
      }
      val parts = Seq(1, 3, 13)(rnd.nextInt(3))
      val src = data.toDF("g", "v").repartition(parts)
      val ps = Seq(0.05, 0.5, 0.95)
      val got = graft.operators.Relational.distributedPercentilesOf(src, ps).collect()
        .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .toMap
      val expect = data.groupBy(_._1).map { case (g, rows) =>
        g -> ps.map(p => q(rows.map(_._2), p))
      }
      assert(got == expect, s"trial $trial (parts=$parts): $got vs $expect")
    }
  }

  test("multimodal byte features sum to ~1 for non-empty docs") {
    val rows = graft.operators.Multimodal.byteFeatures(spark = TestSpark.spark,
      dir = TestSpark.sf0001).collect()
    rows.filter(_.getInt(1) > 0).take(20).foreach { r =>
      val s = r.getSeq[Float](2).sum
      assert(math.abs(s - 1.0f) < 1e-3, s"doc ${r.getLong(0)} features sum $s")
    }
  }

  test("audio decode: WAV round-trip recovers the exact PCM payload") {
    val rows = graft.operators.Multimodal.audioDecode(TestSpark.spark, TestSpark.sf0001)
      .orderBy("doc_id").limit(20).collect()
    assert(rows.nonEmpty)
    val texts = graft.sources.Tables(TestSpark.spark, TestSpark.sf0001, "documents")
      .orderBy("doc_id").limit(20).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val bytes = texts(r.getLong(0)).getBytes("UTF-8")
      assert(r.getInt(1) == 8000 && r.getInt(2) == bytes.length)
      assert(math.abs(r.getDouble(3) - bytes.length / 8000.0) < 1e-12)
      digest.reset()
      assert(r.getString(4) == digest.digest(bytes).map("%02x".format(_)).mkString,
        s"doc ${r.getLong(0)}: decoded PCM differs from source bytes")
    }
  }

  test("image decode: PNG round-trip recovers the exact padded payload") {
    val rows = graft.operators.Multimodal.imageDecode(TestSpark.spark, TestSpark.sf0001)
      .orderBy("doc_id").limit(20).collect()
    assert(rows.nonEmpty)
    // independently recompute from the source text: the decoded raster must
    // equal the space-padded UTF-8 bytes (PNG gray-8 is lossless)
    val texts = graft.sources.Tables(TestSpark.spark, TestSpark.sf0001, "documents")
      .orderBy("doc_id").limit(20).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val bytes = texts(r.getLong(0)).getBytes("UTF-8")
      val h = (bytes.length + 15) / 16
      val padded = java.util.Arrays.copyOf(bytes, 16 * h)
      java.util.Arrays.fill(padded, bytes.length, 16 * h, ' '.toByte)
      assert(r.getInt(1) == 16 && r.getInt(2) == h && r.getInt(3) == 16 * h)
      digest.reset()
      assert(r.getString(4) == digest.digest(padded).map("%02x".format(_)).mkString,
        s"doc ${r.getLong(0)}: decoded pixels differ from source bytes")
      val mean = padded.map(_ & 0xFF).sum.toDouble / padded.length
      assert(math.abs(r.getDouble(5) - mean) < 1e-9)
    }
  }
}
