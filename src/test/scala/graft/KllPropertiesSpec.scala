package graft

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

/** The KLL quantile family's accuracy and algebra pins — the rows-only
  * query `q_kll_quantiles` is validated here (KLL compaction is
  * randomized, so estimates are not run-deterministic and cannot
  * hash-match an oracle): rank-error bound vs exact on a known
  * distribution, merged-parts vs one-pass consistency, the byte format
  * `q_stream_kll` keeps as state, and the registered query's shape.
  * Every sketch is built and read through Spark's built-in
  * `kll_*_double` functions, as the query builds them.
  */
class KllPropertiesSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private def spark = TestSpark.spark

  private def rankOf(sorted: Array[Double], v: Double): Double = {
    val i = java.util.Arrays.binarySearch(sorted, v)
    val pos = if (i >= 0) i else -i - 1
    pos.toDouble / sorted.length
  }

  private def values(xs: Seq[Double]): DataFrame = {
    val s = spark
    import s.implicits._
    xs.toDF("v")
  }

  /** (n, quantiles at `qs`) of the sketch column `sk` of a one-row frame. */
  private def read(df: DataFrame, sk: Column, qs: Seq[Double]): (Long, Seq[Double]) = {
    val r = df.select(kll_sketch_get_n_double(sk) +:
      qs.map(q => kll_sketch_get_quantile_double(sk, lit(q))): _*).head()
    (r.getLong(0), qs.indices.map(i => r.getDouble(i + 1)))
  }

  test("rank error stays inside the k=200 contract (~1.65%, tested at 3%)") {
    val rnd = new scala.util.Random(11)
    // lognormal-ish skew — the shape quantile sketches exist for
    val xs = Array.fill(200000)(math.exp(rnd.nextGaussian()))
    val qs = Seq(0.1, 0.5, 0.9, 0.99)
    val (n, est) = read(values(xs.toSeq).agg(kll_sketch_agg_double(col("v")).as("sk")),
      col("sk"), qs)
    assert(n == xs.length)
    val sorted = xs.sorted
    qs.zip(est).foreach { case (q, e) =>
      val err = math.abs(rankOf(sorted, e) - q)
      assert(err < 0.03, s"rank error $err at q=$q")
    }
  }

  test("merging per-part sketches answers like a one-pass sketch (both inside the bound)") {
    val rnd = new scala.util.Random(23)
    val xs = Array.fill(120000)(rnd.nextDouble() * 1000)
    val sorted = xs.sorted
    // twelve part sketches, merged from their bytes — the path the
    // rollup's global row takes
    val parts = values(xs.toSeq).withColumn("part", monotonically_increasing_id() % 12)
      .groupBy(col("part")).agg(kll_sketch_agg_double(col("v")).as("sk"))
    val qs = Seq(0.5, 0.9, 0.99)
    val (n, est) = read(parts.agg(kll_merge_agg_double(col("sk")).as("sk")), col("sk"), qs)
    assert(n == xs.length)
    qs.zip(est).foreach { case (q, e) =>
      assert(math.abs(rankOf(sorted, e) - q) < 0.03, s"merged rank error at q=$q")
    }
  }

  test("q_stream_kll state bytes and kll_sketch_agg_double bytes are one format") {
    val s = spark
    import s.implicits._
    // q_stream_kll's state: newHeapInstance(200) bytes. Below k values
    // nothing compacts, so the merged quantile is exact and deterministic.
    def heap(xs: Seq[Double]): Array[Byte] = {
      val sk = KllDoublesSketch.newHeapInstance(200); xs.foreach(sk.update); sk.toByteArray
    }
    val small = Seq((1 to 50).map(_.toDouble), (51 to 100).map(_.toDouble),
      (101 to 150).map(_.toDouble))
    val (n, Seq(p50)) = read(small.map(heap).toDF("sk").agg(kll_merge_agg_double(col("sk")).as("sk")),
      col("sk"), Seq(0.5))
    val direct = KllDoublesSketch.newHeapInstance(200)
    small.flatten.foreach(direct.update)
    assert(n == direct.getN && n == 150)
    assert(p50 == direct.getQuantile(0.5, QuantileSearchCriteria.INCLUSIVE) && p50 == 75.0)
    // compacted state merges too: n stays exact
    val big = Seq.tabulate(3)(i => (1 to 5000).map(j => (i * 5000 + j).toDouble))
    val (nBig, _) = read(big.map(heap).toDF("sk").agg(kll_merge_agg_double(col("sk")).as("sk")),
      col("sk"), Seq(0.5))
    assert(nBig == 15000)
    // and the built-in's bytes heapify as a k=200 library sketch (one
    // collect: compaction is randomized, so a re-run builds other bytes)
    val built = values((1 to 5000).map(_.toDouble))
      .agg(kll_sketch_agg_double(col("v"))).head().getAs[Array[Byte]](0)
    val (bn, Seq(bp50)) = read(Seq(built).toDF("sk"), col("sk"), Seq(0.5))
    val heapified = KllDoublesSketch.heapify(Memory.wrap(built))
    assert(heapified.getK == 200 && heapified.getN == bn && bn == 5000)
    assert(heapified.getQuantile(0.5, QuantileSearchCriteria.INCLUSIVE) == bp50)
  }

  test("exact-regime sanity: below compaction the quantiles are exact") {
    val (_, Seq(p50, p100)) = read(
      values((1 to 100).map(_.toDouble)).agg(kll_sketch_agg_double(col("v")).as("sk")),
      col("sk"), Seq(0.5, 1.0))
    assert(p50 == 50.0)
    assert(p100 == 100.0)
  }

  test("q_kll_quantiles: per-type rows + merged global, monotone quantiles, sane range") {
    val rows = Relational.kllQuantileRollup(spark, TestSpark.sf0001).collect()
    val scopes = rows.map(_.getString(0)).toSet
    assert(scopes.contains("all") && scopes.size >= 2)
    rows.foreach { r =>
      val (p50, p90, p99) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(p50 <= p90 && p90 <= p99, s"non-monotone quantiles in $r")
    }
    // the merged-global row must sit inside the per-type envelope
    val per = rows.filter(_.getString(0) != "all")
    val all = rows.find(_.getString(0) == "all").get
    assert(all.getDouble(3) <= per.map(_.getDouble(3)).max + 1e-9)
    assert(all.getDouble(1) >= per.map(_.getDouble(1)).min - 1e-9)
  }

  test("q_kll_quantiles scans events once: `all` merges the per-type rows' own sketches") {
    val df = Relational.kllQuantileRollup(spark, TestSpark.sf0001)
    def plan = df.queryExecution.executedPlan
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"expected one events scan:\n$plan")
    // once run, AQE's stage reuse can share a twice-planned scan, but not a
    // second evaluation of the per-type sketches above the shared shuffle
    df.collect()
    val perTypeSketches = collect(plan) {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(e =>
        e.mode == Final && e.aggregateFunction.prettyName == "kll_sketch_agg_double") => a
    }
    assert(perTypeSketches.size == 1, s"per-type sketches built more than once:\n$plan")
  }
}
