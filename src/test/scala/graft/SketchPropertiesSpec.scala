package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{MinHashSketch, MisraGries, SimHashSketch}

/** Partition-independence of the sketch aggregates: for any split of the
  * input into partial buffers, update-then-merge must equal one
  * sequential pass. This is the property that makes the aggregates safe
  * under Spark's partial aggregation at any partitioning — checked
  * directly on the buffer algebra (seeded randomized trials), no Spark
  * session needed.
  */
class SketchPropertiesSpec extends AnyFunSuite {

  private val prime = 2147483647L
  private val crnd = new scala.util.Random(7)
  private val a = Array.fill(16)(math.abs(crnd.nextLong()) % (prime - 1) + 1)
  private val b = Array.fill(16)(math.abs(crnd.nextLong()) % prime)

  private val minAgg = MinHashSketch(
    org.apache.spark.sql.catalyst.expressions.Literal(0L), prime, a, b)
  private val simAgg = SimHashSketch(
    org.apache.spark.sql.catalyst.expressions.Literal(0L))

  private def minUpdate(buf: Array[Long], h: Long): Array[Long] = {
    var i = 0
    while (i < 16) { val p = (a(i) * h + b(i)) % prime; if (p < buf(i)) buf(i) = p; i += 1 }
    buf
  }

  private def simUpdate(buf: Array[Long], h: Long): Array[Long] = {
    var j = 0
    while (j < 64) { buf(j) += ((h >>> j) & 1L) * 2L - 1L; j += 1 }
    buf
  }

  test("minhash: split-and-merge equals one pass for any partitioning") {
    val rnd = new scala.util.Random(42)
    (1 to 300).foreach { _ =>
      val hs = List.fill(rnd.nextInt(50))(math.abs(rnd.nextLong()) % prime)
      val (l, r) = hs.splitAt(if (hs.isEmpty) 0 else rnd.nextInt(hs.length + 1))
      val one = hs.foldLeft(minAgg.createAggregationBuffer())(minUpdate)
      val bl = l.foldLeft(minAgg.createAggregationBuffer())(minUpdate)
      val br = r.foldLeft(minAgg.createAggregationBuffer())(minUpdate)
      assert(minAgg.merge(bl, br).toSeq == one.toSeq)
    }
  }

  test("minhash: serialize/deserialize round-trips the buffer") {
    val rnd = new scala.util.Random(43)
    (1 to 100).foreach { _ =>
      val hs = List.fill(rnd.nextInt(50))(math.abs(rnd.nextLong()) % prime)
      val buf = hs.foldLeft(minAgg.createAggregationBuffer())(minUpdate)
      assert(minAgg.deserialize(minAgg.serialize(buf)).toSeq == buf.toSeq)
    }
  }

  test("simhash: split-and-merge equals one pass; eval packs signs") {
    val rnd = new scala.util.Random(44)
    (1 to 300).foreach { _ =>
      val hs = List.fill(rnd.nextInt(50))(rnd.nextLong())
      val (l, r) = hs.splitAt(if (hs.isEmpty) 0 else rnd.nextInt(hs.length + 1))
      val one = hs.foldLeft(simAgg.createAggregationBuffer())(simUpdate)
      val bl = l.foldLeft(simAgg.createAggregationBuffer())(simUpdate)
      val br = r.foldLeft(simAgg.createAggregationBuffer())(simUpdate)
      val merged = simAgg.merge(bl, br)
      assert(merged.toSeq == one.toSeq)
      val fp = simAgg.eval(merged).asInstanceOf[Long]
      (0 until 64).foreach { j =>
        assert(((fp >>> j) & 1L) == (if (one(j) > 0) 1L else 0L))
      }
    }
  }

  // --- Misra-Gries: the frequent-items guarantee under ANY partitioning ---

  /** Run a stream through MG split into random partial buffers merged in
    * a random binary-tree order — the shape Spark's partial aggregation
    * actually produces.
    */
  private def mgSketch(stream: Seq[String], k: Int, rnd: scala.util.Random): Map[String, Long] = {
    val nParts = 1 + rnd.nextInt(6)
    val parts = stream.grouped(math.max(1, (stream.size + nParts - 1) / nParts)).toVector
    val buffers = parts.map(_.foldLeft(Map.empty[String, Long])(MisraGries.mgReduce(_, _, k)))
    buffers.reduceOption((x, y) => MisraGries.mgMerge(x, y, k)).getOrElse(Map.empty)
  }

  test("misra-gries: any item above n/(k+1) survives every split/merge shape") {
    val rnd = new scala.util.Random(11)
    (1 to 200).foreach { _ =>
      val k = 1 + rnd.nextInt(12)
      val vocab = 1 + rnd.nextInt(40)
      val stream = rnd.shuffle(Seq.fill(rnd.nextInt(400))(s"t${rnd.nextInt(vocab)}"))
      val sketch = mgSketch(stream, k, rnd)
      assert(sketch.size <= k, s"k=$k sketch overflowed: ${sketch.size}")
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong)
      val bar = stream.size.toDouble / (k + 1)
      exact.filter(_._2 > bar).foreach { case (t, c) =>
        assert(sketch.contains(t),
          s"k=$k n=${stream.size}: $t (count $c > $bar) evicted from ${sketch.keySet}")
      }
      // counts never OVERestimate (MG only decrements)
      sketch.foreach { case (t, c) =>
        assert(c <= exact.getOrElse(t, 0L), s"$t sketch count $c exceeds exact")
      }
    }
  }

  test("misra-gries: two-pass answer equals brute force for any stream") {
    val rnd = new scala.util.Random(13)
    (1 to 200).foreach { _ =>
      val k = 1 + rnd.nextInt(12)
      val stream = Seq.fill(rnd.nextInt(300))(s"t${rnd.nextInt(25)}")
      val candidates = mgSketch(stream, k, rnd).keySet
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bar = stream.size.toDouble / (k + 1)
      val twoPass = candidates.toSeq.map(t => t -> exact.getOrElse(t, 0L))
        .filter(_._2 > bar).toMap
      val brute = exact.filter(_._2 > bar)
      assert(twoPass == brute, s"k=$k: $twoPass vs $brute")
    }
  }

  test("hll: union of monthly sketches equals one whole-table sketch, near exact count") {
    // the q_hll_merge contract: merging stored per-partition sketch
    // state must lose NOTHING vs re-scanning — same estimate as a
    // single sketch over all rows, and both within 2% of the truth
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val orders = graft.sources.Tables(spark, TestSpark.sf0001, "orders")
    val direct = orders
      .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("e"))
      .collect()(0).getLong(0)
    val out = graft.operators.Relational.hllMergedDistinct(spark, TestSpark.sf0001).collect()
    val merged = out.filter(_.getString(0) == "total").map(_.getLong(1)).head
    assert(merged == direct, s"merged sketch estimate $merged != direct $direct")
    val exact = orders.select(countDistinct(col("o_custkey"))).collect()(0).getLong(0)
    assert(math.abs(merged - exact).toDouble / exact <= 0.02,
      s"estimate $merged vs exact $exact beyond 2%")
    // every month row estimates a nonempty set and no month exceeds the total's support
    val months = out.filter(_.getString(0) != "total")
    assert(months.nonEmpty && months.forall(_.getLong(1) > 0))
  }

  test("theta: exact below nominal entries; intersection/union within 3% beyond it") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    // intersection and union of the per-group sketches, re-aggregated
    // from their bytes by Spark's built-in theta functions
    def setOps(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.groupBy($"g").agg(theta_sketch_agg($"k").as("sk"))
        .agg(theta_sketch_estimate(theta_intersection_agg($"sk")),
          theta_sketch_estimate(theta_union_agg($"sk")))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    // exact regime: estimates ARE the exact set-algebra answers — the
    // property q_theta_overlap's full hash oracle relies on
    val small = spark.range(0, 3000).select(
      (col("id") % 1000).as("k"),
      when(col("id") % 2 === 0, "a").otherwise("b").as("g"))
    val (inter, union) = setOps(small)
    val both = small.filter($"g" === "a").select($"k")
      .intersect(small.filter($"g" === "b").select($"k")).count()
    val either = small.select($"k").distinct().count()
    assert(inter == both && union == either,
      s"exact-mode estimates ($inter, $union) != exact ($both, $either)")
    // estimation regime: 200k keys per side, 100k overlap — way past the
    // 4096 retained hashes; set-op estimates must stay within 3%
    val big = spark.range(0, 300000).select(
      col("id").as("k"),
      when(col("id") < 200000, "a").otherwise("b").as("g")) // a: [0,200k)
      .union(spark.range(100000, 300000).select(col("id").as("k"), lit("b")))
    // b side: [100k,300k) → overlap [100k,200k) = 100k, union 300k
    val (interBig, unionBig) = setOps(big)
    assert(math.abs(interBig - 100000) / 100000.0 <= 0.03, s"intersection est $interBig")
    assert(math.abs(unionBig - 300000) / 300000.0 <= 0.03, s"union est $unionBig")
  }

  // --- portable HLL ---

  private def hllAgg = graft.functions.PortableHll(
    org.apache.spark.sql.catalyst.expressions.Literal(0L), 9)

  private def hllUpdate(buf: Array[Byte], h: Long): Array[Byte] = {
    val w = 51
    val bucket = (h >>> w).toInt
    val suffix = h & ((1L << w) - 1)
    val rank = if (suffix == 0L) w + 1
      else java.lang.Long.numberOfLeadingZeros(suffix) - (64 - w) + 1
    if (rank > buf(bucket)) buf(bucket) = rank.toByte
    buf
  }

  test("portable hll: split-and-merge equals one pass for any partitioning") {
    val rnd = new scala.util.Random(43)
    (1 to 200).foreach { _ =>
      val hs = Array.fill(rnd.nextInt(400) + 1)(math.abs(rnd.nextLong()) & ((1L << 60) - 1))
      val onePass = hs.foldLeft(hllAgg.createAggregationBuffer())(hllUpdate)
      val cut = rnd.nextInt(hs.length)
      val left = hs.take(cut).foldLeft(hllAgg.createAggregationBuffer())(hllUpdate)
      val right = hs.drop(cut).foldLeft(hllAgg.createAggregationBuffer())(hllUpdate)
      val merged = hllAgg.merge(left, right)
      assert(java.util.Arrays.equals(merged, onePass), "registers must be partition-independent")
    }
  }

  test("portable hll: estimate within the standard error envelope of exact") {
    // m = 512 -> relative std err ~ 1.04/sqrt(512) ~ 4.6%; bound at 4 sigma
    val rnd = new scala.util.Random(44)
    Seq(100, 1000, 20000).foreach { n =>
      val keys = (1 to n).map(_ => rnd.nextLong()).distinct
      val buf = keys.foldLeft(hllAgg.createAggregationBuffer()) { (b, k) =>
        // the same md5 60-bit prefix channel the query uses
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(k.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
        hllUpdate(b, java.lang.Long.parseLong(hex.substring(0, 15), 16))
      }
      var sumInt = 0L; var v = 0L
      buf.foreach { r => sumInt += 1L << (52 - r); if (r == 0) v += 1 }
      val m = 512
      val raw = (0.7213 / (1.0 + 1.079 / 512.0)) * 512 * 512 * 4503599627370496.0 / sumInt
      val est = if (raw <= 2.5 * m && v > 0) m * math.log(m.toDouble / v) else raw
      val err = math.abs(est - keys.length) / keys.length
      assert(err < 4 * 1.04 / math.sqrt(512),
        s"n=${keys.length}: est $est off by ${err * 100}%%")
    }
  }
}
