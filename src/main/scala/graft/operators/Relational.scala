package graft.operators

import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Relational operator surface (SURVEY §2B): aggregation, joins of every
  * flavor, rollup/cube/grouping-sets, window functions, sort/limit, set
  * ops, and the scalar function families — each as a declarative DataFrame
  * query so Catalyst owns the physical plan (pushdown, pruning, join
  * strategy, whole-stage codegen, AQE).
  *
  * Numeric-determinism note: money aggregates go through
  * `DECIMAL(12,2)` so sums are exact and order-independent — a double sum
  * would differ between engines (and between partitionings of the same 100
  * TB input) in the last bits. Final results cast back to double for a
  * stable cross-engine comparison surface.
  */
object Relational {

  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** TPC-H Q1-style pricing summary: filter → partial+final hash agg.
    * The shipdate predicate reaches the parquet scan (PushedFilters); the
    * aggregation is map-side partial then 2-key shuffle — the canonical
    * "scales to any input size" shape.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    // exact: price*(1-disc) has true scale 4 and fits DECIMAL(18,4)
    val discPrice = (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
      .cast(DecimalType(18, 4))
    val charge = discPrice * (lit(1) + dec(col("l_tax")))
    li.filter(col("l_shipdate") <= lit(LocalDateTime.of(1998, 9, 2, 0, 0)))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        sum(charge).cast("double").as("sum_charge"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
        (sum(dec(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** Filter + projection only — exists to prove scan-level pushdown and
    * column pruning (ReadSchema shows 4 of 11 columns, PushedFilters shows
    * both predicates).
    */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(LocalDateTime.of(1997, 1, 1, 0, 0)) &&
        col("l_discount") > 0.08)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_discount"))

  /** Revenue by nation: orders ⋈ customer ⋈ nation with the two dimension
    * tables broadcast — zero shuffle on the fact side until the final
    * 25-key aggregation.
    */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    val customer = Tables(spark, dir, "customer")
    val nation = Tables(spark, dir, "nation")
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** Incremental aggregate maintenance — the view-maintenance pattern:
    * a BASE aggregate state (90% of orders, by key hash) merges with a
    * DELTA batch's aggregate (the other 10%) by re-aggregating the
    * partial states, and the result must equal the full recompute
    * EXACTLY — which it does because the partial sums are DECIMAL
    * (double partials would differ from the recompute in the last bits
    * depending on add order). At 100 TB this is why nightly loads
    * don't re-scan history: the merge input is |keys| rows per batch,
    * and any additive/mergeable aggregate (sum, count, min/max, HLL,
    * GK — see q_hll_merge) maintains the same way. Oracle: the plain
    * full-table SQL aggregate.
    */
  def incrementalRevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val enriched = Tables(spark, dir, "orders")
      .join(broadcast(Tables(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_totalprice"), col("o_orderkey"))
    def slice(pred: Column) = enriched.filter(pred)
      .groupBy(col("n_name"))
      .agg(sum(dec(col("o_totalprice"))).as("rev"), count(lit(1)).as("n"))
    val base = slice(pmod(col("o_orderkey"), lit(10)) =!= 0)
    val delta = slice(pmod(col("o_orderkey"), lit(10)) === 0)
    base.unionByName(delta)
      .groupBy(col("n_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        sum(col("n")).as("n_orders"))
  }

  /** Incremental JOIN-view maintenance — the delta-join identity behind
    * every materialized join view: with both relations split into a
    * standing snapshot and a new-arrivals delta (A = A₀∪ΔA, B = B₀∪ΔB),
    * the maintained view is
    * `A₀⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈B₀ ∪ ΔA⋈ΔB` — only the three delta terms
    * compute on refresh, and each joins a DELTA-sized side, so a nightly
    * load touches |Δ|·|B| work instead of re-scanning 100 TB of history
    * (and the delta sides broadcast when small). The identity requires
    * the four slices to PARTITION the inputs — hash-disjoint splits
    * here — and the final rollup merges the four partial aggregates the
    * same way [[incrementalRevenueByNation]] merges its two (DECIMAL
    * partials, so the merge is exactly the recompute). Oracle: the plain
    * full join — any divergence between the maintained and recomputed
    * plan is a hash mismatch.
    */
  def deltaJoinView(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    val customer = Tables(spark, dir, "customer")
    val a0 = orders.filter(pmod(col("o_orderkey"), lit(10)) =!= 0)
    val da = orders.filter(pmod(col("o_orderkey"), lit(10)) === 0)
    val b0 = customer.filter(pmod(col("c_custkey"), lit(7)) =!= 0)
    val db = customer.filter(pmod(col("c_custkey"), lit(7)) === 0)
    def term(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(dec(col("o_totalprice"))).as("rev"), count(lit(1)).as("n"))
    term(a0, b0).unionByName(term(a0, db))
      .unionByName(term(da, b0)).unionByName(term(da, db))
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        sum(col("n")).as("n_orders"))
  }

  /** Fact-to-fact join (lineitem ⋈ orders) — shuffle/sort-merge territory;
    * AQE picks the final shape at runtime. Revenue per order priority.
    */
  def revenueByPriority(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val orders = Tables(spark, dir, "orders")
    val discPrice = (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
      .cast(DecimalType(18, 4))
    li.join(orders.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(discPrice).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Left-semi join: customers that have at least one order (EXISTS). */
  def customersWithOrders(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .join(Tables(spark, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))

  /** Left-anti join: customers with no finished (`F`) order (NOT EXISTS).
    * The status filter makes the result non-trivially non-empty at every
    * scale factor (plain "no orders at all" is empty — key coverage is
    * dense in the generator).
    */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .join(Tables(spark, dir, "orders").filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** Full-outer join: a bounded customer slice against per-customer
    * order rollups, keeping unmatched rows from BOTH sides (customers
    * with no orders on the left, orders whose customer falls outside the
    * slice on the right). Same shuffle-join physics as the inner join —
    * outer-ness only changes null handling at the merge, not the plan
    * shape — so this scales exactly like [[revenueByPriority]].
    */
  def customerOrdersFullOuter(spark: SparkSession, dir: String, keyCap: Int = 1000): DataFrame = {
    val cust = Tables(spark, dir, "customer")
      .filter(col("c_custkey") <= keyCap)
      .select(col("c_custkey"), col("c_mktsegment"))
    val ords = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("total"))
    cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_mktsegment"), coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        col("total"))
  }

  /** Exact + grouped distinct aggregation. */
  def distinctCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderstatus")).as("n_status"),
        count(lit(1)).as("n_orders"))

  /** approx_count_distinct (HLL++) — no exact oracle by construction; the
    * ScalaTest asserts relative error vs the exact count instead.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))

  /** ROLLUP over order status × priority. */
  def rollupOrders(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        sum(dec(col("o_totalprice"))).cast("double").as("total"),
        count(lit(1)).as("n"))

  /** CUBE over lineitem flags. */
  def cubeLineitem(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))

  /** Pivot: order revenue by status × priority, priorities as columns.
    * Explicit value list so the plan is a single pass (no extra distinct
    * job to discover pivot values).
    */
  def pivotRevenue(spark: SparkSession, dir: String): DataFrame = {
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    Tables(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", priorities)
      .agg(sum(dec(col("o_totalprice"))).cast("double"))
      .toDF("o_orderstatus" +: priorities.map(p => "p" + p.charAt(0)): _*)
  }

  /** SQL-text UNPIVOT — the parser surface of [[unpivotOrderMetrics]]
    * (`FROM … UNPIVOT (value FOR metric IN (…))`), same oracle, same
    * narrow Expand plan: melt through either front-end never joins or
    * re-shuffles beyond the feeding aggregation.
    */
  def sqlUnpivotOrderMetrics(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_unpivot_orders")
    spark.sql(
      """SELECT o_orderpriority, metric, value FROM (
        |  SELECT o_orderpriority,
        |    CAST(COUNT(*) AS DOUBLE) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
        |    MAX(o_totalprice) AS max_price
        |  FROM graft_unpivot_orders GROUP BY o_orderpriority)
        |UNPIVOT (value FOR metric IN (n_orders, total_price, max_price))""".stripMargin)
  }

  /** Exact interpolated percentiles per group (both engines implement the
    * same continuous-quantile definition).
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("round(percentile(l_extendedprice, 0.25), 4)").as("p25"),
        expr("round(percentile(l_extendedprice, 0.5), 4)").as("p50"),
        expr("round(percentile(l_extendedprice, 0.75), 4)").as("p75"))

  /** EXACT grouped percentiles that scale — the distributed
    * order-statistics answer to [[percentiles]]' one honest weakness:
    * Spark's `percentile` aggregate buffers each group's entire value
    * multiset in the final reducer, so a group with 10¹⁰ rows OOMs one
    * task no matter the cluster size. This computes the same numbers
    * with bounded state everywhere:
    *
    *  1. slice the value range per group along DRIVER-COLLECTED
    *     approximate split points (|groups| × (parts−1) doubles — a
    *     percentile-sized result, not data; requires bounded group
    *     cardinality, which is this query's shape). Each row's slice id
    *     is a pure codegen'd expression over those literals, so every
    *     consumer below derives IDENTICAL ids by construction — no
    *     reliance on `spark_partition_id()` atop a range exchange
    *     staying in sync across two consumers via ReuseExchange (a
    *     sampling-dependent assignment that silently breaks under
    *     `spark.sql.exchange.reuse=false`; r7 review). Split quality
    *     only affects balance, never correctness;
    *  2. slice sizes from a plain hash aggregate (no row shuffle — only
    *     (slice, group, count) rows move), prefix-summed over the tiny
    *     (slices × groups) relation → per-slice base offsets;
    *  3. each target order statistic (floor/ceil of p·(n−1), exact long
    *     arithmetic; `frac` exact in double for binary-fraction p) is
    *     LOCATED in its slice (rank − base = in-slice position), and only
    *     those few slices get ranked — rows outside target slices are
    *     dropped by a broadcast semi-join BEFORE the sort shuffle;
    *  4. the in-slice matches pick the two bracketing values per
    *     (group, p) and interpolate — `percentile_cont` semantics,
    *     identical rounding.
    *
    * Pinned by the differential test in `OperatorsSmokeSpec`, which
    * asserts exact equality with the buffering aggregate under BOTH
    * exchange-reuse settings. Shares q_percentiles' oracle: the point
    * is a better PLAN for the same answer.
    */
  def distributedPercentiles(spark: SparkSession, dir: String,
      ps: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame =
    distributedPercentilesOf(
      Tables(spark, dir, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v")), ps)
      .withColumnRenamed("g", "l_returnflag")

  /** The generic core of [[distributedPercentiles]]: exact grouped
    * percentile_cont over any (g: string, v: double) relation with
    * bounded state per task — reusable wherever a pipeline needs exact
    * quantiles of a group too big to buffer (see [[winsorizedEvents]]).
    * Returns one row per group with a `pNN` column per requested p.
    */
  private[graft] def distributedPercentilesOf(src: DataFrame,
      ps: Seq[Double],
      probeOverride: Option[Seq[(String, Long, Seq[Double])]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ps.nonEmpty && ps.distinct == ps && ps.forall(p => p >= 0 && p <= 1),
      s"ps must be distinct fractions in [0,1]: $ps")
    val spark = src.sparkSession

    // (A repartition-before-the-passes variant was measured and
    // REJECTED: each of the three passes re-executes the exchange, so
    // it costs three extra |src|-row shuffles for map work that is
    // mostly light projections — q_quantile_grid regressed 3.7 → 6.5 s.
    // The single-row-group scan serialism is acceptable here; contrast
    // minhashSigExact, where one scan feeds a 560× explode + md5.)
    val srcP = src

    // ONE probe scan for both the exact per-group counts and the
    // approximate slice bounds (they rode two separate full scans of
    // src until r14 — the count is exact either way, so merging them is
    // a free scan saved for every consumer: percentiles_dist, the
    // quantile grid, winsorize, MAD × 2). A caller that already knows
    // the exact counts and a usable value slicing (madOutlierEvents:
    // the deviation pass's counts equal the value pass's, and its
    // bounds are the value bounds folded around the median) passes them
    // via probeOverride and skips this scan — bounds only ever shape
    // the slicing, never the result.
    val probeData: Seq[(String, Long, Seq[Double])] = probeOverride.getOrElse(
      percentileProbe(srcP))

    // target order statistics per (group, p): 1-based lo/hi bracketing
    // ranks and the interpolation fraction. Plain driver-side Scala
    // over the |groups| collected probe rows — the arithmetic mirrors
    // the former Column chain op for op (pos = p · (n−1) as an IEEE
    // double multiply, lo = ⌊pos⌋+1, hi = min(lo+1, n), frac =
    // pos − ⌊pos⌋), so every number is bit-identical; building these
    // |groups × ps|-sized relations as Spark plans only bought planning
    // overhead per consumer (measured: the local-relation machinery was
    // a visible slice of the 3.4 s core call at sf0.1).
    import spark.implicits._
    case class Target(tg: String, p: Double, lo: Long, hi: Long, frac: Double)
    val targets: Seq[Target] = for {
      (g, n, _) <- probeData
      p <- ps
    } yield {
      val pos = p * (n - 1).toDouble
      val lo = math.floor(pos).toLong + 1
      Target(g, p, lo, math.min(lo + 1, n), pos - math.floor(pos))
    }

    // deterministic slice ids: count of split points ≤ v, per group
    // (monotonic in v, so slices are value-ordered and boundary ties
    // land whole in one slice)
    val bounds: Map[String, Seq[Double]] =
      probeData.map { case (g, _, bs) => g -> bs }.toMap
    val pidExpr = bounds.toSeq.sortBy(_._1).foldLeft(lit(-1)) { case (acc, (gv, bs)) =>
      when(col("g") === gv,
        bs.foldLeft(lit(0))((a, b) => a + when(col("v") >= b, 1).otherwise(0)))
        .otherwise(acc)
    }
    val withPid = srcP.withColumn("pid", pidExpr)
    // slice sizes from a hash aggregate (no sort), COLLECTED raw: the
    // relation is |parts × groups|-bounded by construction, so the
    // prefix sum runs in plain Scala (the former in-plan Window cost
    // two extra stages per call for a ≤ slices×groups-row relation).
    // Counts are exact longs — collect changes nothing numerically.
    val bases: Seq[(Int, String, Long, Long)] = withPid
      .groupBy(col("pid"), col("g")).agg(count(lit(1)).as("c"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .groupBy(_._2).toSeq.flatMap { case (g, rows) =>
        val sorted = rows.sortBy(_._1)
        val cums = sorted.scanLeft(0L)(_ + _._3)
        sorted.zip(cums).map { case ((pid, _, c), base) => (pid, g, base, c) }
      }
    // locate each bracketing rank's slice and in-slice position — plain
    // Scala over targets × bases (both tiny); only the located slices
    // get ranked, so the expensive per-slice sort touches ~|targets|
    // partitions, not the whole relation
    def locate(rank: Target => Long, which: String) = for {
      t <- targets
      (pid, g, base, c) <- bases
      if t.tg == g && rank(t) > base && rank(t) <= base + c
    } yield (t.tg, t.p, t.frac, pid, rank(t) - base, which)
    val sliceTargets = (locate(_.lo, "lo") ++ locate(_.hi, "hi"))
      .toDF("tg", "p", "frac", "tpid", "lrn", "which")
    val sliceKeys = (locate(_.lo, "lo") ++ locate(_.hi, "hi"))
      .map { case (g, _, _, pid, _, _) => (pid, g) }.distinct
      .toDF("pid", "g")
    // broadcast semi-join against the ≤ 2·|ps|·|groups| driver-local
    // key rows. NOT a literal OR-chain predicate: CollapseProject
    // inlines the (slices×groups)-branch pid CASE expression into every
    // disjunct, so an 18-key filter evaluated pid 18× per row —
    // measured 3–5× slower across every consumer before reverting to
    // the join, which keeps pid evaluated once in the projection.
    val ranked = withPid
      .join(broadcast(sliceKeys), Seq("pid", "g"), "left_semi")
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("pid"), col("g")).orderBy(col("v"))))
    val picked = ranked
      .join(broadcast(sliceTargets),
        col("g") === col("tg") && col("pid") === col("tpid") && col("rn") === col("lrn"))
      .groupBy(col("tg").as("g"), col("p"), col("frac"))
      .agg(max(when(col("which") === "lo", col("v"))).as("lov"),
        max(when(col("which") === "hi", col("v"))).as("hiv"))
      .withColumn("value",
        round(col("lov") + col("frac") * (col("hiv") - col("lov")), 4))
    // pivot columns derived from ps (default → p25/p50/p75); p.toString
    // sidesteps double-multiply drift (0.99*100 = 98.999…)
    def pName(p: Double): String =
      "p" + (BigDecimal(p.toString) * 100).underlying.stripTrailingZeros
        .toPlainString.replace(".", "_").replace("-", "m")
    val pivots = ps.map(p => max(when(col("p") === p, col("value"))).as(pName(p)))
    picked.groupBy(col("g"))
      .agg(pivots.head, pivots.tail: _*)
  }

  /** The quantile core's probe pass: exact per-group counts + the
    * approximate slice bounds, one scan, collected (|groups| rows).
    * Exposed so a caller chaining two core invocations over the same
    * row set (madOutlierEvents) can share it.
    */
  private[graft] def percentileProbe(src: DataFrame): Seq[(String, Long, Seq[Double])] = {
    val parts = src.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val splitPs = (1 until parts).map(_.toDouble / parts)
    src.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        percentile_approx(col("v"), array(splitPs.map(lit(_)): _*), lit(100)).as("bs"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Double](2).toSeq)).toSeq
  }

  /** Percentile winsorization (clip to [p5, p95] per class) — the
    * outlier-robust normalization step before training on heavy-tailed
    * telemetry, composed from [[distributedPercentilesOf]]: the exact
    * per-class quantiles come back as a |classes|-row relation with
    * bounded state everywhere (never a buffered `percentile` group),
    * broadcast back onto the log, and applied as pure
    * `least`/`greatest` — two narrow passes at any scale, same shape
    * as [[outlierEvents]].
    */
  def winsorizedEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").filter(col("value").isNotNull)
    val qs = distributedPercentilesOf(
      ev.select(col("event_type").as("g"), col("value").as("v")), Seq(0.05, 0.95))
    ev.join(broadcast(qs), col("event_type") === qs("g"))
      .withColumn("value_w", least(greatest(col("value"), col("p5")), col("p95")))
      .select(col("event_id"), col("event_type"), col("value"), col("value_w"))
  }

  /** Column-profile / data-quality report over `orders` — per column:
    * row count, null count, exact distinct count, numeric min/max (NULL
    * for non-numerics). The "expectations" snapshot every ingestion
    * pipeline diffs between loads. ONE pass: a single aggregate
    * computes every column's metrics (the multi-column exact distincts
    * plan as one Expand — a ×|columns| row multiplier inside one scan,
    * never |columns| scans), and the 1-row wide result explodes to the
    * long (column, metrics) report — driver never aggregates anything.
    */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    val numeric = Set("o_orderkey", "o_custkey", "o_totalprice")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderpriority")
    val aggs = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"${c}__n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__null"),
        countDistinct(col(c)).as(s"${c}__nd")) ++
        (if (numeric(c))
          Seq(min(col(c)).cast("double").as(s"${c}__min"),
            max(col(c)).cast("double").as(s"${c}__max"))
        else
          Seq(lit(null).cast("double").as(s"${c}__min"),
            lit(null).cast("double").as(s"${c}__max")))
    }
    Tables(spark, dir, "orders")
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col(s"${c}__n").as("n_rows"),
        col(s"${c}__null").as("n_null"),
        col(s"${c}__nd").as("n_distinct"),
        col(s"${c}__min").as("min_num"),
        col(s"${c}__max").as("max_num"))): _*)).as("p"))
      .select(col("p.*"))
  }

  /** Equi-depth decile statistics (the calibration / lift table): each
    * class's values bucket by its own exact decile boundaries, then per
    * (class, decile) count / decimal-exact total / min / max. The
    * SCALE-correct formulation of what `ntile(10)` computes with a full
    * per-class window sort (see [[distributionFunctions]] for ntile
    * itself): boundaries come from the bounded-state quantile core as a
    * |classes|-row broadcast, bucketing is a pure projection, and the
    * final aggregate is map-side combined — no window ever touches the
    * log. Values equal to a boundary fall in the lower bucket
    * (comparisons against the rounded boundaries are exact). The
    * round-4 boundaries carry the quantile-core family's shared
    * residual risk: an interpolated boundary landing EXACTLY on a
    * .00005 half-boundary can round differently across engines
    * (winsorize/mad accept the same exposure; measured green across
    * rounds — the tie requires an exact decimal coincidence).
    */
  def decileStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").filter(col("value").isNotNull)
    val bounds = distributedPercentilesOf(
      ev.select(col("event_type").as("g"), col("value").as("v")),
      (1 to 9).map(_ / 10.0))
    val bucket = (1 to 9).map(k =>
      when(col("value") > col(s"p${k * 10}"), 1).otherwise(0))
      .reduce(_ + _) + 1
    ev.join(broadcast(bounds), col("event_type") === col("g"))
      .withColumn("decile", bucket)
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
  }

  /** 2-D equi-depth quantile grid — the JOINT distribution heatmap
    * (price quintile × quantity quintile over lineitem), completing the
    * histogram family: equi-width 1-D (`q_histogram`), equi-depth 1-D
    * (`q_decile_stats`), equi-depth 2-D (this). Both axes' boundaries
    * come from the bounded-state quantile core as 1-row broadcasts,
    * bucketing is a pure projection, and the grid aggregate outputs
    * ≤ 25 cells — after the two boundary passes nothing grows with
    * data but the one scan.
    */
  def quantileGrid(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val ps = Seq(0.2, 0.4, 0.6, 0.8)
    // BOTH axes' boundaries from ONE pass through the quantile core:
    // the two value columns unpivot to (g ∈ {x, y}, v) and the core
    // computes each group independently, so the boundary doubles are
    // IDENTICAL to the former two single-axis calls — for half the
    // machinery (two cores × 3 scans + 2 driver actions each → one
    // core over the 2-row-per-line relation: 6 scans → 3, 4 actions
    // → 2; guide §2.4). The ≤ 8 boundary doubles then enter the
    // bucketing projection as LITERALS — the former per-axis broadcast
    // subtrees each re-ran the full core lineage at execution.
    val bothBounds = distributedPercentilesOf(
      li.select(explode(array(
        struct(lit("x").as("g"), col("l_extendedprice").as("v")),
        struct(lit("y").as("g"), col("l_quantity").as("v")))).as("e"))
        .select(col("e.g").as("g"), col("e.v").as("v")), ps)
      .collect()
    def boundLit(axis: String, p: Double): Column = {
      val row = bothBounds.find(_.getString(0) == axis)
        .getOrElse(sys.error(s"quantileGrid: no '$axis' bounds row (empty lineitem?)"))
      val i = row.fieldIndex(s"p${(p * 100).round}")
      if (row.isNullAt(i)) lit(null).cast("double") else lit(row.getDouble(i))
    }
    def bucketOf(c: String, axis: String) = ps.map(p =>
      when(col(c) > boundLit(axis, p), 1).otherwise(0))
      .reduce(_ + _) + 1
    li.withColumn("x_bucket", bucketOf("l_extendedprice", "x"))
      .withColumn("y_bucket", bucketOf("l_quantity", "y"))
      .groupBy(col("x_bucket"), col("y_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice"))).cast("double").as("total_price"))
  }

  /** Robust outlier screening by median/MAD — the heavy-tail-safe twin
    * of [[outlierEvents]] (one extreme value drags a mean/sd z-score's
    * own baseline; the median and the median absolute deviation ignore
    * it). Two passes through [[distributedPercentilesOf]]: the per-class
    * median, broadcast back to form |value − median|, then the median of
    * those deviations — every intermediate is bounded state, never a
    * buffered `percentile` group. Flags events with modified z-score
    * `0.6745 (v − med) / mad` beyond 3.5 (Iglewicz–Hoaglin cutoff);
    * `mad > 0` classes only, for the same engine-division-semantics
    * reason as the sd > 0 guard in [[outlierEvents]].
    */
  def madOutlierEvents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events").filter(col("value").isNotNull)
    // ONE probe serves both core invocations (r15): the deviation
    // relation has exactly the value relation's per-group counts (same
    // rows), and its slice bounds derive by folding the value bounds
    // around the median — |b − med| sorted distinct is value-ordered
    // and roughly equi-mass, and bounds only shape the slicing, never
    // the result. The median itself is collected once (|groups| rows)
    // and re-enters as a local relation, so the deviation pass joins a
    // literal instead of re-executing the first core's rank stage
    // inside its broadcast subtree.
    val probe1 = percentileProbe(
      ev.select(col("event_type").as("g"), col("value").as("v")))
    val medRows: Seq[(String, Double)] = distributedPercentilesOf(
      ev.select(col("event_type").as("g"), col("value").as("v")),
      Seq(0.5), Some(probe1))
      .select(col("g"), col("p50")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val med = medRows.toDF("g", "med")
    // the quantile core walks its src several times (slice-id pass,
    // targeted rank pass) — pin the joined+derived relation once so
    // pass 2 doesn't re-run the join per walk (same lineage-truncation
    // move as the dup-clusters rounds; at production scale this is a
    // narrow 5-column relation, reliable-checkpoint it)
    val withDev = ev.join(broadcast(med), col("event_type") === med("g"))
      .withColumn("absdev", abs(col("value") - col("med")))
      .localCheckpoint()
    val medMap = medRows.toMap
    val probe2 = probe1.map { case (g, n, bs) =>
      (g, n, bs.map(b => math.abs(b - medMap(g))).distinct.sorted)
    }
    val mad = distributedPercentilesOf(
      withDev.select(col("event_type").as("g"), col("absdev").as("v")),
      Seq(0.5), Some(probe2))
      .select(col("g"), col("p50").as("mad"))
      .filter(col("mad") > 0)
    withDev.drop("g")
      .join(broadcast(mad), col("event_type") === mad("g"))
      .withColumn("rz", round(lit(0.6745) * (col("value") - col("med")) / col("mad"), 4))
      .filter(abs(col("rz")) > 3.5)
      .select(col("event_id"), col("event_type"), col("value"), col("rz"))
  }

  /** Approximate percentiles per group (Greenwald-Khanna sketch) — the
    * 100 TB path next to [[percentiles]]: bounded-memory mergeable
    * sketch state per group instead of buffering every value, with rank
    * error ≤ 1/accuracy. Approximate by construction → rows-only driver
    * check; `OperatorsSmokeSpec` asserts the value-error bound against
    * the exact quantiles.
    */
  def approxPercentiles(spark: SparkSession, dir: String, accuracy: Int = 10000): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.25), lit(0.5), lit(0.75)), lit(accuracy)).as("qs"))
      .select(col("l_returnflag"),
        element_at(col("qs"), 1).as("p25"),
        element_at(col("qs"), 2).as("p50"),
        element_at(col("qs"), 3).as("p75"))

  /** GROUPING SETS via the SQL surface. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem").createOrReplaceTempView("graft_gs_lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n
        |FROM graft_gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
  }

  /** Top-3 orders per customer — row_number window with a deterministic
    * tie-break. One shuffle on the partition key; no global sort.
    */
  def topOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
  }

  /** The rest of the ranking family: rank/dense_rank over a coarse
    * ordering (real ties, so peer semantics are exercised), ntile + lead
    * over a unique ordering (deterministic tiling).
    */
  def rankingFunctions(spark: SparkSession, dir: String): DataFrame = {
    val coarse = Window.partitionBy(col("o_orderstatus"))
      .orderBy(month(col("o_orderdate")).asc)
    val unique = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables(spark, dir, "orders").select(
      col("o_orderkey"), col("o_orderstatus"),
      rank().over(coarse).as("rnk"),
      dense_rank().over(coarse).as("drnk"),
      ntile(4).over(unique).as("quartile"),
      coalesce(lead(col("o_orderkey"), 1).over(unique), lit(-1L)).as("next_okey"))
  }

  /** Running aggregates + lag over an ordered per-user event stream. */
  def runningUserAggregates(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir, "events")
      .select(
        col("event_id"), col("user_id"),
        row_number().over(order).as("rn"),
        sum(dec(col("value"))).over(running).cast("double").as("running_value"),
        // -1 sentinel instead of null: nullable int64 → pandas float64 in
        // one engine but not the other, which can trip a strict dtype gate
        coalesce(lag(col("event_id"), 1).over(order), lit(-1L)).as("prev_event_id"))
  }

  /** Distribution-ranking window family — percent_rank / cume_dist /
    * ntile / nth_value — the quantile-position functions
    * [[rankingFunctions]] doesn't cover. Same single-shuffle window
    * physics: one exchange on the partition key, partition-local sort,
    * all five functions share the frame. The (value, key) ORDER BY is
    * total, so ntile's positional bucketing is engine-deterministic.
    */
  def distributionFunctions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables(spark, dir, "orders")
      .select(
        col("o_orderkey"), col("o_orderstatus"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        ntile(4).over(w).as("quartile"),
        // -1 sentinel: nth_value is null for the first two rows per
        // group, and nullable int64 → pandas float64 can trip the
        // strict compare
        coalesce(nth_value(col("o_orderkey"), 3)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), lit(-1L))
          .as("third_okey"),
        first(col("o_orderkey"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_okey"))
  }

  /** Global top-k: ORDER BY + LIMIT plans as TakeOrderedAndProject —
    * per-partition heaps + a k-row driver merge, never a full sort.
    */
  def topLineitems(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))

  /** EXCEPT (distinct) — set-op surface (same F-status trick as the anti
    * join so the result is non-empty).
    */
  def exceptCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer").select(col("c_custkey"))
      .except(Tables(spark, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("c_custkey")))

  /** INTERSECT (distinct). */
  def intersectCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer").select(col("c_custkey"))
      .intersect(Tables(spark, dir, "orders").select(col("o_custkey").as("c_custkey")))

  /** collect_set / array aggregation, made deterministic by sorting and
    * flattening to CSV (collect order is partitioning-dependent; the
    * sorted-set projection is not).
    */
  def eventTypesPerUser(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(collect_set(col("event_type")).as("types"))
      .select(
        col("user_id"),
        size(col("types")).cast("int").as("n_types"),
        concat_ws(",", array_sort(col("types"))).as("types_csv"))

  /** UNION ALL + distinct count — completes the set-op family. */
  def unionKeys(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer").select(col("c_custkey").as("k"))
      .unionByName(Tables(spark, dir, "orders").select(col("o_custkey").as("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))

  /** String function family over part names. */
  def stringFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "part").select(
      col("p_partkey"),
      upper(col("p_name")).as("upper_name"),
      substring(col("p_name"), 1, 4).as("prefix4"),
      length(col("p_name")).as("name_len"),
      regexp_replace(col("p_name"), "[aeiou]", "").as("no_vowels"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
      lpad(col("p_partkey").cast("string"), 8, "0").as("padded_key"))

  /** The custom `standardize_race_id` Catalyst expression in an
    * oracle-checkable query (the SQL equivalent is spelled out in
    * SparkEntry.oracleSql): exercises both the letters+digits branch and
    * the fallback branch on synthetic strings built from part columns.
    */
  def raceIdNormalization(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.standardize_race_id
    Tables(spark, dir, "part").select(
      col("p_partkey"),
      standardize_race_id(concat(col("p_name"), lit(" "), col("p_partkey").cast("string")))
        .as("norm_name_key"),
      standardize_race_id(col("p_brand")).as("norm_brand"),
      standardize_race_id(col("p_type")).as("norm_type"))
  }

  /** Date/time family: per-hour event counts (date_trunc bucketing). */
  def eventsPerHour(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("total_value"))

  /** Date extraction + arithmetic over orders. */
  def ordersByMonth(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))

  /** Math function family (only exactly-reproducible ops: abs, floor,
    * ceil, modulo, greatest/least — no transcendentals whose libm rounding
    * differs across engines).
    */
  def mathFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      abs(col("l_discount") - 0.05).as("abs_disc_delta"),
      floor(col("l_extendedprice")).cast("long").as("floor_price"),
      ceil(col("l_extendedprice")).cast("long").as("ceil_price"),
      (col("l_quantity") % 7).as("qty_mod7"),
      greatest(col("l_tax"), col("l_discount")).as("max_rate"),
      least(col("l_tax"), col("l_discount")).as("min_rate"))

  /** Array/higher-order-function family over the embedding column — all
    * codegen-friendly built-ins, no UDF.
    */
  def arrayFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings").select(
      col("vec_id"),
      size(col("embedding")).as("dim"),
      element_at(col("embedding"), 1).cast("double").as("first_val"),
      aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")).as("sq_norm"))

  /** JSON function family: extract from the events.props JSON string. */
  def jsonFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events").select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))

  /** Map function family: parse the JSON props into a map and explode to
    * (key, value) rows — `from_json` + `explode` on MapType.
    */
  def mapFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("event_id"),
        explode(from_json(col("props"), MapType(StringType, LongType))))
      .select(col("event_id"), col("key"), col("value").as("v"))

  /** Timestamp/format family: string round-trips, epoch seconds, field
    * extraction, interval arithmetic — all reproducible in the oracle
    * (ISO day-of-week used because the engines disagree on week origin).
    */
  def timestampFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders").select(
      col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("d_str"),
      col("o_orderdate").cast("timestamp").cast("long").as("epoch_s"),
      dayofmonth(col("o_orderdate")).as("day_of_month"),
      (weekday(col("o_orderdate")) + 1).as("iso_dow"),
      (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("plus_30d"),
      to_timestamp_ntz(date_format(col("o_orderdate"), "yyyy-MM-dd"), lit("yyyy-MM-dd"))
        .as("parsed_back"))

  /** Range (equi + interval band) join: lineitems shipped within 60 days
    * of their order date. The equi key keeps it a hash/merge join with a
    * residual band filter — not a cross product.
    */
  def shippedWithin60Days(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val orders = Tables(spark, dir, "orders")
    li.join(orders,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"))
  }

  /** RANGE-framed window: per user, the rolling sum of event values over
    * the trailing hour (value-range frame over event time, not a row
    * count — peers at the same instant aggregate together regardless of
    * row order). Spark's rangeBetween needs a numeric sort key, so the
    * frame runs over epoch micros; cents arithmetic keeps the sum exact.
    */
  def rollingHourValue(spark: SparkSession, dir: String): DataFrame = {
    val hourMicros = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"))
      .rangeBetween(-hourMicros, Window.currentRow)
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("hour_sum", (sum(col("cents")).over(w).cast("double") / 100))
      .select(col("event_id"), col("user_id"), col("hour_sum"))
  }

  /** Describe-style column profiling per group: count, mean, sample
    * stddev, min/max, and Pearson correlation — the quick data-quality
    * scan a pipeline runs before training. Rounded to 4 dp so the
    * one-pass variance formulations of different engines agree.
    */
  def summaryStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("l_extendedprice")), 4).as("mean_price"),
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"))

  /** Z-score outlier detection per class — the screening pass a pipeline
    * runs before training on numeric telemetry: per-event-type mean and
    * sample stddev (one map-side-combined aggregate, |types| rows), the
    * tiny stats relation broadcast back onto the stream, and rows
    * flagged where |z| > 2.5. Two narrow passes at any scale — never a
    * window over the full table, so no type's rows ever co-locate.
    * z rounds to 4 dp (the `summaryStats` convention) so one-pass
    * variance formulations of different engines agree.
    */
  def outlierEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").filter(col("value").isNotNull)
    // sd > 0 also drops NULL sd (single-row classes): a constant or
    // singleton class has no outliers, and engines disagree on double
    // x/0 (Spark NULL-or-error vs IEEE NaN/inf) — never divide by it
    val stats = ev.groupBy(col("event_type"))
      .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
      .filter(col("sd") > 0)
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", round((col("value") - col("mu")) / col("sd"), 4))
      .filter(abs(col("z")) > 2.5)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
  }

  /** The full SQL surface end-to-end: temp views + `spark.sql` text (the
    * other queries declare plans through the DataFrame API; this one goes
    * through the SQL parser → same Catalyst pipeline). TPC-H Q3's shape —
    * segment filter, 3-way join, grouped revenue, top-10 — with the
    * date split adjusted to the synthetic data's 1995–2001 range.
    */
  def sqlShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem").foreach { t =>
      Tables(spark, dir, t).createOrReplaceTempView(s"graft_$t")
    }
    spark.sql(
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM graft_customer
        |JOIN graft_orders ON c_custkey = o_custkey
        |JOIN graft_lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin)
  }

  /** Six-table join through the SQL parser (TPC-H Q8's market-share
    * shape): per order year, total discounted revenue for STANDARD-type
    * parts and the share supplied from ASIA — lineitem ⋈ orders on the
    * fact spine, part/supplier/nation/region as dimensions. The planner
    * decisions ARE the operator here: every dimension must come in as a
    * BroadcastHashJoin (region→nation→supplier chains under the
    * broadcast threshold) with the region filter pushed into its scan,
    * leaving the lineitem⋈orders shuffle as the only exchange pair —
    * SqlSurfaceSpec pins that shape. At 100 TB the same plan holds:
    * dims stay broadcast-sized, the fact spine shuffles once. The
    * share arithmetic keeps decimal sums exact and divides once in
    * mirrored doubles.
    */
  def sqlMarketShare(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "orders", "part", "supplier", "nation", "region").foreach { t =>
      Tables(spark, dir, t).createOrReplaceTempView(s"graft_$t")
    }
    spark.sql(
      """SELECT year(o_orderdate) AS o_year,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  round(CAST(SUM(CASE WHEN r_name = 'ASIA'
        |      THEN CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |        * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))) AS DOUBLE), 6)
        |    AS asia_share
        |FROM graft_lineitem
        |JOIN graft_orders ON l_orderkey = o_orderkey
        |JOIN graft_part ON l_partkey = p_partkey
        |JOIN graft_supplier ON l_suppkey = s_suppkey
        |JOIN graft_nation ON s_nationkey = n_nationkey
        |JOIN graft_region ON n_regionkey = r_regionkey
        |WHERE p_type = 'STANDARD'
        |GROUP BY year(o_orderdate)""".stripMargin)
  }

  /** Correlated EXISTS through the SQL parser (TPC-H Q4's shape, adapted
    * to the synthetic schema: lineitem has no commit/receipt dates, so
    * "late" means shipped >30 days after the order date — the
    * correlation still references the outer table twice, once in the
    * equi key and once in the comparison, which is the part that
    * exercises decorrelation). Catalyst must rewrite the subquery into a
    * LEFT SEMI join — never a per-outer-row execution; SqlSurfaceSpec
    * pins that.
    */
  def sqlExistsLateOrders(spark: SparkSession, dir: String): DataFrame = {
    Seq("orders", "lineitem").foreach { t =>
      Tables(spark, dir, t).createOrReplaceTempView(s"graft_$t")
    }
    spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM graft_orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM graft_lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAYS)
        |GROUP BY o_orderpriority""".stripMargin)
  }

  /** Correlated scalar subquery through the SQL parser (TPC-H Q17's
    * shape: keep lineitems below half their part's average quantity).
    * Catalyst decorrelates into one aggregate over lineitem grouped by
    * l_partkey joined back — the per-part average is computed ONCE, not
    * per outer row; SqlSurfaceSpec pins the absence of a live subquery in
    * the optimized plan.
    */
  def sqlScalarAvgQuantity(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part").foreach { t =>
      Tables(spark, dir, t).createOrReplaceTempView(s"graft_$t")
    }
    // the outer side MUST be aliased: a bare `l_partkey` inside the
    // subquery resolves to l2's own column (self-comparison, silently
    // uncorrelated) — the classic correlated-subquery footgun, and the
    // same resolution order DuckDB uses, so the oracle aliases too
    spark.sql(
      """SELECT p_brand,
        |  CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
        |  COUNT(*) AS n_lines
        |FROM graft_lineitem l1 JOIN graft_part ON p_partkey = l1.l_partkey
        |WHERE l1.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
        |                       FROM graft_lineitem l2
        |                       WHERE l2.l_partkey = l1.l_partkey)
        |GROUP BY p_brand""".stripMargin)
  }

  /** IN-subquery with a grouped HAVING inner (TPC-H Q18's shape: orders
    * whose total lineitem quantity exceeds a threshold). The IN rewrites
    * to a LEFT SEMI join against the aggregated subquery — completing
    * the parser-path subquery family (EXISTS in [[sqlExistsLateOrders]],
    * scalar in [[sqlScalarAvgQuantity]]).
    */
  def sqlInLargeOrders(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem").foreach { t =>
      Tables(spark, dir, t).createOrReplaceTempView(s"graft_$t")
    }
    spark.sql(
      """SELECT c_name, o_orderkey, o_orderdate,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
        |FROM graft_customer JOIN graft_orders ON c_custkey = o_custkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM graft_lineitem
        |                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
        |""".stripMargin)
  }

  /** Window function through the SQL parser (TPC-H Q18-adjacent: top-3
    * orders per customer by price). The DataFrame window family is
    * covered elsewhere ([[rankPerGroup]] etc.); this one exercises the
    * parser path — `ROW_NUMBER() OVER (PARTITION BY … ORDER BY …)` must
    * parse, resolve, and plan as the same single hash-partitioned
    * Exchange + partition-local sort + Window as the DataFrame route.
    * o_orderkey breaks price ties so row numbers are deterministic.
    */
  def sqlWindowTopOrders(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders").foreach { t =>
      Tables(spark, dir, t).createOrReplaceTempView(s"graft_$t")
    }
    spark.sql(
      """SELECT c_custkey, o_orderkey, total_price, rn
        |FROM (
        |  SELECT c_custkey, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price,
        |    ROW_NUMBER() OVER (PARTITION BY c_custkey
        |                       ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC,
        |                                o_orderkey ASC) AS rn
        |  FROM graft_orders JOIN graft_customer ON c_custkey = o_custkey)
        |WHERE rn <= 3""".stripMargin)
  }

  /** PIVOT through the SQL parser — the relational reshape verb on the
    * SQL-text path ([[pivotRevenue]] covers the DataFrame route with the
    * same semantics and shares its oracle's CASE/FILTER formulation).
    * Spark's SQL PIVOT clause plans the identical two-phase aggregate as
    * `RelationalGroupedDataset.pivot` with explicit values: one
    * map-side-combined pass computing every (group, pivot-value) cell —
    * never one scan per output column.
    */
  def sqlPivotRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_orders")
    spark.sql(
      """SELECT * FROM (
        |  SELECT o_orderstatus, o_orderpriority,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
        |  FROM graft_orders)
        |PIVOT (
        |  CAST(SUM(price) AS DOUBLE)
        |  FOR o_orderpriority IN (
        |    '1-URGENT' AS p1, '2-HIGH' AS p2, '3-MEDIUM' AS p3,
        |    '4-NOT SPECIFIED' AS p4, '5-LOW' AS p5))""".stripMargin)
  }

  /** Custom Catalyst expressions through the SQL TEXT surface: the
    * native `standardize_race_id` and `dot_product` expressions resolve
    * by name inside `spark.sql` — the last leg of the custom-function
    * story (Column API and `expr()` are covered elsewhere). Resolution
    * comes from the function registry: per-session via
    * `GraftSession.register` (idempotent, called here) or cluster-wide
    * via `spark.sql.extensions=graft.plans.GraftExtensions`
    * (`GraftExtensionsSpec` pins that route). Both functions stay
    * codegen'd Catalyst expressions — no UDF wrapping on the SQL path.
    */
  /** Semi-structured VARIANT surface (Spark 4): JSON ingests once into
    * the binary variant encoding, then typed path extraction —
    * `variant_get` with a target type — replaces per-access string
    * re-parsing. Two shapes exercised: the table's own `props` JSON, and
    * a nested object/array document (built from typed columns, so the
    * oracle recomputes every extraction from the originals and the whole
    * encode→shred round trip must be lossless, doubles included — JSON
    * shortest-repr text → variant decimal/double → double is bit-exact).
    * At 100 TB variant beats string JSON twice: parse cost is paid once
    * per row not once per path, and the columnar shredded layout prunes
    * like any other column.
    */
  def variantFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(
        col("event_id"),
        parse_json(col("props")).as("vp"),
        parse_json(to_json(struct(
          col("event_type").as("t"), col("value").as("v"),
          array(col("event_id"), col("user_id")).as("tags")))).as("vn"))
      .select(
        col("event_id"),
        expr("variant_get(vp, '$.k', 'long')").as("k"),
        expr("variant_get(vn, '$.t', 'string')").as("etype"),
        expr("variant_get(vn, '$.v', 'double')").as("v"),
        expr("variant_get(vn, '$.tags[1]', 'long')").as("tag"))

  /** Collation-aware grouping (Spark 4): `c_mktsegment` arrives with
    * deterministically mangled case (odd keys UPPER, even lower) and the
    * aggregation groups under the `UTF8_LCASE` collation — the engine's
    * comparator/hasher does the case folding, not a `lower()` rewrite of
    * the data. The output key is `lower(seg)` (constant within a
    * case-insensitive group) so the surfaced value is deterministic
    * while the GROUPING itself runs on the collated column. Collations
    * matter at scale because they push case/accent semantics into every
    * comparison site (joins, sorts, distinct) without materializing a
    * normalized copy of the column.
    */
  def collatedSegments(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .select(
        when(col("c_custkey") % 2 === 1, upper(col("c_mktsegment")))
          .otherwise(lower(col("c_mktsegment"))).as("seg"))
      .groupBy(expr("collate(seg, 'UTF8_LCASE')").as("cseg"))
      .agg(count(lit(1)).as("n"))
      .select(lower(col("cseg")).as("segment"), col("n"))

  /** Recursive CTE through the SQL parser (Spark 4 `WITH RECURSIVE`):
    * depth-bounded path counting from 'signup' over the event-type
    * transition graph — the anchor seeds depth 0, the recursive member
    * joins one edge step per iteration, `UNION ALL` keeps one row per
    * distinct PATH so the aggregate counts walks, and the `depth < 3`
    * bound terminates the fixpoint explicitly (graph has cycles; an
    * unbounded walk would not converge). Execution is one edge-join per
    * level — the same shuffle-bounded iteration shape as
    * `Dedup.dupClusters`' label propagation, but owned by the engine
    * from SQL text. DuckDB runs the IDENTICAL statement as the oracle.
    */
  def sqlRecursivePaths(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events").createOrReplaceTempView("graft_events")
    spark.sql(
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT prev_type, event_type AS next_type FROM (
        |    SELECT event_type,
        |      LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |    FROM graft_events) t
        |  WHERE prev_type IS NOT NULL
        |),
        |paths AS (
        |  SELECT 'signup' AS etype, 0 AS depth
        |  UNION ALL
        |  SELECT e.next_type AS etype, p.depth + 1 AS depth
        |  FROM paths p JOIN edges e ON e.prev_type = p.etype
        |  WHERE p.depth < 3
        |)
        |SELECT etype, depth, COUNT(*) AS n_paths
        |FROM paths GROUP BY etype, depth""".stripMargin)
  }

  /** SQL-body scalar UDF (`CREATE FUNCTION ... RETURN expr`): the
    * catalog-resident, engine-portable cousin of a JVM UDF — the body is
    * a Catalyst expression, so it inlines into the plan (whole-stage
    * codegen, constant folding, pushdown all apply; nothing opaque).
    * Used here both as a projection and as the GROUP BY key. Money sums
    * go through DECIMAL per the engine-wide determinism contract.
    */
  def sqlScalarUdf(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_orders")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_priority_class(p STRING)
        |RETURNS STRING RETURN substr(p, instr(p, '-') + 1)""".stripMargin)
    spark.sql(
      """SELECT graft_priority_class(o_orderpriority) AS pclass,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM graft_orders
        |GROUP BY graft_priority_class(o_orderpriority)""".stripMargin)
  }

  def sqlCustomFunctions(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.register(spark)
    Tables(spark, dir, "part").createOrReplaceTempView("graft_part")
    Tables(spark, dir, "embeddings").createOrReplaceTempView("graft_embeddings")
    spark.sql(
      """SELECT p_partkey,
        |  standardize_race_id(p_brand) AS norm_brand,
        |  dot_product(embedding, embedding) AS sq_norm,
        |  round(jaro_winkler(p_name, p_brand), 6) AS name_brand_sim
        |FROM graft_part JOIN graft_embeddings ON p_partkey = vec_id""".stripMargin)
  }

  /** Bloom-filter SEMI-JOIN REDUCTION — the explicit spelling of the
    * runtime filter Spark's `InjectRuntimeFilter` plants automatically
    * when statistics justify it: build a bloom filter over the
    * selective dim side's join keys with ONE distributed aggregate
    * (`BloomFilterAggregate` — the engine's own mergeable sketch, a few
    * hundred KB for millions of keys), then probe it on the fact side
    * as a map-side `WHERE` BEFORE the join's exchange. At 100 TB this
    * is the difference between shuffling every fact row and shuffling
    * only the ~fraction that can possibly match: the probe runs inside
    * the scan stage, false positives (rate set by numBits/numItems) are
    * removed by the exact join that follows, so the RESULT is identical
    * to the plain join — the shared oracle pins exactly that.
    *
    * The filter reaches the probe site as a SCALAR SUBQUERY, not a
    * driver-collected literal: `BloomFilterMightContain` accepts
    * precisely foldables and subqueries, and the subquery route keeps
    * the filter bytes on the executors. Both expressions surface via
    * graft's function registration (`graft_bloom_agg` /
    * `graft_might_contain` — Spark ships them only as internal,
    * rule-planted expressions).
    */
  def bloomPrunedJoin(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.register(spark)
    val orders = Tables(spark, dir, "orders")
    orders.createOrReplaceTempView("graft_orders")
    Tables(spark, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
    // Size the sketch from the dim side's scan-stat row estimate (file
    // bytes / ~100 B per order row, ~1/5 priority selectivity), floored
    // at 50k keys — a FIXED numItems stops pruning silently once the
    // real key count outgrows it (FP rate → 1 while the exact join
    // keeps results correct; ADVICE r08). Stats come from the parquet
    // footer path, no job runs, and bits/key stays ~8 at any
    // replication factor.
    // BigInt stays BigInt until AFTER the clamp: stats can fall back to
    // spark.sql.defaultSizeInBytes = Long.MaxValue, where a premature
    // .toLong wraps negative and an unclamped numBits would ask the agg
    // for an exabit sketch (ADVICE r09). 10M keys * 8 bits = 10 MB —
    // the most a broadcast-shaped runtime filter should ever weigh.
    val estRows = orders.queryExecution.optimizedPlan.stats.sizeInBytes / 100
    val numItems = (estRows / 5).max(50000L).min(10000000L).toLong
    val numBits = numItems * 8
    spark.sql(
      s"""WITH bf AS (
        |  SELECT graft_bloom_agg(xxhash64(o_orderkey),
        |    CAST($numItems AS BIGINT), CAST($numBits AS BIGINT)) AS b
        |  FROM graft_orders WHERE o_orderpriority = '1-URGENT')
        |SELECT l.l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM graft_lineitem l
        |JOIN graft_orders o
        |  ON l.l_orderkey = o.o_orderkey AND o.o_orderpriority = '1-URGENT'
        |WHERE graft_might_contain((SELECT b FROM bf), xxhash64(l.l_orderkey))
        |GROUP BY l.l_returnflag""".stripMargin)
  }

  /** SQL-standard ordered string aggregation — `listagg(expr, sep)
    * WITHIN GROUP (ORDER BY …)` through the parser (new in Spark 4;
    * the standard spelling of the sorted `collect_set`+`concat_ws`
    * composition `q_collect_set` does in DataFrame code). The WITHIN
    * GROUP order makes the output deterministic under any
    * partitioning — the only safe way to emit concatenated groups from
    * a distributed engine.
    */
  def sqlListAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events").createOrReplaceTempView("graft_events")
    spark.sql(
      """SELECT user_id,
        |  listagg(DISTINCT event_type, ',') WITHIN GROUP (ORDER BY event_type)
        |    AS types_csv
        |FROM graft_events GROUP BY user_id""".stripMargin)
  }

  /** SQL PIPE syntax (Spark 4, SQL:2023-style `|>` operators) — TPC-H
    * Q1's shape written as a linear pipeline: FROM |> WHERE |> EXTEND
    * |> AGGREGATE ... GROUP BY |> ORDER BY. The parser desugars each
    * stage onto the same Catalyst operators as the nested spelling, so
    * the PLAN (and therefore the 100 TB behavior) is identical — the
    * surface is what changes: transformation order reads top-to-bottom,
    * the way the DataFrame API and every ETL author already think.
    */
  def sqlPipeSyntax(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
    spark.sql(
      """FROM graft_lineitem
        ||> WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        ||> EXTEND CAST(l_extendedprice AS DECIMAL(12,2))
        |     * (1 - CAST(l_discount AS DECIMAL(12,2))) AS disc_price
        ||> AGGREGATE COUNT(*) AS n,
        |     CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |     CAST(SUM(CAST(disc_price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |   GROUP BY l_returnflag, l_linestatus
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** `GROUP BY ALL` / `ORDER BY ALL` through the parser — the
    * exploratory-SQL shorthand (group on every non-aggregate select
    * item, order on every output column) Spark 4 adopted from DuckDB;
    * the resolved plan is the ordinary hash aggregate + sort, so the
    * sugar costs nothing at scale.
    */
  def sqlGroupByAll(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_orders")
    spark.sql(
      """SELECT o_orderpriority, year(o_orderdate) AS o_year, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM graft_orders
        |GROUP BY ALL
        |ORDER BY ALL""".stripMargin)
  }

  /** LATERAL COLUMN ALIAS through the parser (Spark 3.4+): a select
    * item referencing an alias defined EARLIER in the same list — the
    * derived-column chain every hand-written report builds; resolved
    * by inlining, so the plan is one projection, not nested subqueries.
    */
  def sqlLateralAlias(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
    // the inner SELECT is the feature surface (each alias referenced by
    // the next item); the outer projection normalizes decimals to
    // DOUBLE for the dtype-sensitive gate compare
    spark.sql(
      """SELECT l_orderkey, l_linenumber,
        |  CAST(dp AS DOUBLE) AS disc_price,
        |  CAST(ch AS DOUBLE) AS charged,
        |  CAST(ch AS DOUBLE) - CAST(dp AS DOUBLE) AS tax_amount
        |FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS dp,
        |    CAST(dp * (1 + CAST(l_tax AS DECIMAL(12,2)))
        |      AS DECIMAL(22,6)) AS ch
        |  FROM graft_lineitem
        |  WHERE l_orderkey < 1000)""".stripMargin)
  }

  /** SQL session VARIABLES (Spark 4 `DECLARE` / `SET VAR`): the
    * parameterization idiom for SQL-text pipelines — a threshold set
    * once, referenced by later statements, folded as a literal at plan
    * time (so pushdown still reaches the scan). Re-DECLARE is
    * idempotent (`OR REPLACE`), keeping bench reps convergent.
    */
  def sqlVariables(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE graft_prio STRING DEFAULT '1-URGENT'")
    spark.sql("SET VAR graft_prio = '2-HIGH'")
    spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM graft_orders
        |WHERE o_orderpriority = graft_prio
        |GROUP BY o_orderpriority""".stripMargin)
  }

  /** Parameterized SQL (`spark.sql(text, args)` with named `:param`
    * markers, Spark 3.4+/4): the injection-safe API face — parameters
    * bind as typed literals in the analyzer, never string-spliced, and
    * constant-fold into the scan filters like any literal.
    */
  def sqlNamedParams(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
    spark.sql(
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
        |FROM graft_lineitem
        |WHERE l_quantity >= :qmin AND l_discount <= :dmax
        |GROUP BY l_returnflag""".stripMargin,
      Map("qmin" -> 25, "dmax" -> 0.05))
  }

  /** `EXECUTE IMMEDIATE` + the `IDENTIFIER()` clause (Spark 4): dynamic
    * SQL done safely — the statement text is a parameter-marked string
    * executed with typed USING bindings, and the table name flows
    * through IDENTIFIER() from a session variable instead of string
    * concatenation. Together they are the sanctioned template-query
    * idiom (multi-tenant dashboards, generated reports) with zero
    * injection surface.
    */
  def sqlExecuteImmediate(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE graft_tab STRING DEFAULT 'graft_orders'")
    spark.sql("DECLARE OR REPLACE VARIABLE graft_stmt STRING")
    spark.sql(
      """SET VAR graft_stmt =
        |  'SELECT o_orderpriority, COUNT(*) AS n,
        |     CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |   FROM IDENTIFIER(graft_tab)
        |   WHERE o_totalprice > ? GROUP BY o_orderpriority'""".stripMargin)
    spark.sql("EXECUTE IMMEDIATE graft_stmt USING 5000.0")
  }

  /** SQL SCRIPTING (Spark 4 `BEGIN … END` compound statements:
    * variables, WHILE, conditional control flow) — the procedural tier
    * stored-procedure authors expect, here computing an iterative
    * doubling sweep: how many times must a revenue threshold double
    * before fewer than 100 orders clear it? Each loop iteration is one
    * ordinary distributed COUNT (driver-side control flow, cluster-side
    * data flow — the same split as the engine's iterative verbs), and
    * the script's final SELECT is the statement's result.
    */
  def sqlScripting(spark: SparkSession, dir: String): DataFrame = {
    // scope the scripting conf to a child session — the global session
    // must not silently start accepting BEGIN...END (the Cbo.cboSession
    // precedent); temp views are session-local, so re-create there
    val s = spark.newSession()
    s.conf.set("spark.sql.scripting.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions",
      spark.conf.get("spark.sql.shuffle.partitions"))
    // the WHILE loop re-counts the same relation ~10× (one scan per
    // doubling); cache it for the script's lifetime — the loop is the
    // demonstrated shape, re-reading parquet per iteration is not
    val ord = Tables(s, dir, "orders")
    ord.cache()
    ord.createOrReplaceTempView("graft_orders")
    val out = s.sql(
      """BEGIN
        |  DECLARE thr DOUBLE DEFAULT 1000.0;
        |  DECLARE doublings INT DEFAULT 0;
        |  DECLARE n_above BIGINT DEFAULT 0;
        |  SET n_above = (SELECT COUNT(*) FROM graft_orders
        |                 WHERE CAST(o_totalprice AS DOUBLE) > thr);
        |  WHILE n_above >= 100 DO
        |    SET thr = thr * 2;
        |    SET doublings = doublings + 1;
        |    SET n_above = (SELECT COUNT(*) FROM graft_orders
        |                   WHERE CAST(o_totalprice AS DOUBLE) > thr);
        |  END WHILE;
        |  SELECT doublings, CAST(thr AS DOUBLE) AS final_threshold,
        |         n_above AS orders_above;
        |END""".stripMargin)
    // the script ran eagerly and its result is variables-only — the
    // cached relation is done serving the loop
    ord.unpersist()
    out
  }

  /** ANSI-mode safe-error family (`try_cast` / `try_divide` /
    * `try_add` / `try_element_at`): Spark 4 runs ANSI by default, so
    * invalid casts and overflows are ERRORS — these are the sanctioned
    * per-expression escape hatches a pipeline uses for dirty columns
    * (NULL on failure, never a poisoned job). The oracle mirrors each
    * with DuckDB's TRY_CAST / explicit guards, pinning the NULL-on-*
    * semantics value for value.
    *
    * The overflow arm fires on a BOUNDED slice (every 1000th key), not
    * every row: under the JVM each caught overflow is a thrown
    * `ArithmeticException`, and ~600k throws per sf0.1 scan cost ~5 s —
    * at 100 TB that is hours of pure exception unwinding for a
    * projection. The NULL-on-overflow semantics stay oracle-pinned by
    * the rows that DO overflow; the rest exercise the fast no-throw
    * path, which is what a production try_* scan should look like.
    */
  def tryFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders").select(
      col("o_orderkey"),
      expr("try_cast(o_orderpriority AS INT)").as("bad_int"),
      expr("try_divide(CAST(o_totalprice AS DOUBLE), o_custkey % 3)").as("div3"),
      expr("try_add(CASE WHEN o_orderkey % 1000 = 0 AND o_orderkey > 0 THEN 9223372036854775807 ELSE 0 END, o_orderkey)")
        .as("overflow_add"),
      expr("try_element_at(split(o_orderpriority, '-'), 5)").as("oob_elem"))

  /** Higher-order array functions (`exists` / `forall` / `filter` /
    * `sort_array`+`slice` / `array_position`) over the token lists —
    * the lambda surface for array columns. All evaluate inside the
    * projection (no explode, no shuffle); the oracle rebuilds each via
    * DuckDB list lambdas with the engines' semantic differences
    * reconciled explicitly (list_position NULL→0, same binary sort).
    */
  def higherOrderFunctions(spark: SparkSession, dir: String): DataFrame = {
    val t = TextAnalysis.tokens(col("text"))
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      exists(t, x => x.startsWith("a")).as("has_a_token"),
      forall(t, x => length(x) < lit(20)).as("all_short"),
      size(filter(t, x => length(x) > lit(5))).as("n_long"),
      concat_ws(" ", slice(sort_array(t), 1, 3)).as("first3_sorted"),
      array_position(t, "the").as("the_pos"))
  }

  /** Table-valued function through the SQL parser — `LATERAL VIEW
    * posexplode` (the positional generator, the SQL face of the same
    * `Generator` machinery `chunk_slices` extends): each part name
    * explodes to its (position, token) rows. Generators are narrow —
    * a per-row flatMap inside the scan stage, no exchange.
    */
  def sqlPosexplodeTokens(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "part").createOrReplaceTempView("graft_part")
    spark.sql(
      """SELECT p_partkey, pos, token
        |FROM graft_part
        |LATERAL VIEW posexplode(split(p_name, ' ')) t AS pos, token""".stripMargin)
  }

  /** Full global sort — ORDER BY with NO limit, the complement of
    * [[topLineitems]]'s TakeOrderedAndProject: plans as a
    * range-partitioned Exchange (sampled split points) followed by
    * partition-local sorts, so every partition sorts its own range in
    * parallel and the output is globally ordered across partitions —
    * never a single-partition collapse (SqlSurfaceSpec pins the
    * rangepartitioning exchange).
    */
  def globalSortLineitems(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)

  /** Deterministic GLOBAL row numbering over `lineitem` in
    * (l_orderkey, l_linenumber) order — the "assign every training
    * example a stable sequence id" verb. The naive spelling,
    * `row_number() OVER (ORDER BY …)` with no PARTITION BY, moves the
    * ENTIRE relation to one reducer (Spark plans a single-partition
    * window) — the canonical accidental scale-killer.
    *
    * This plan is the two-phase shape the repo uses everywhere ranks
    * are needed at scale (`Stats.rollingAutocorrDist`, packed offsets):
    * (1) a coarse key-range bucket (`l_orderkey / 4096`) partitions the
    * local `row_number` window — thousands of parallel partitions, each
    * bounded; (2) per-bucket counts prefix-sum on the |buckets|-row
    * relation into base offsets; (3) `row_id = base + local_rank` via a
    * broadcast join. Identical bits to the single-reducer window (the
    * bucket is a prefix of the sort key, so bucket order extends row
    * order), pinned by the shared oracle.
    */
  def globalRowIds(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"))
      // integer DIV, not floor(double /): a double quotient misbuckets
      // keys beyond 2^53 — the bucket must be exact at any key magnitude
      .withColumn("bkt", expr("l_orderkey DIV 4096"))
    val localW = Window.partitionBy(col("bkt"))
      .orderBy(col("l_orderkey").asc, col("l_linenumber").asc)
    val bases = li.groupBy(col("bkt")).agg(count(lit(1)).as("c"))
      .withColumn("base", coalesce(sum(col("c")).over(
        Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("base"))
    li.withColumn("lrn", row_number().over(localW))
      .join(broadcast(bases), Seq("bkt"))
      .select((col("base") + col("lrn")).as("row_id"),
        col("l_orderkey"), col("l_linenumber"))
  }

  /** As-of join: for every `purchase` event, the nearest prior-or-equal
    * `signup` event of the same user.
    *
    * Implemented the scale-friendly way: tag and UNION both sides, one
    * shuffle on `user_id`, then a running `last(ignoreNulls)` window
    * carries the most recent signup to each purchase row — no join
    * explosion, no per-row subquery, cost O(n log n) in each user's
    * events regardless of total data size.
    *
    * Tie-break: among signups sharing a user's exact ts, the highest
    * event_id wins (`last` over the event_id-asc window) — the oracle's
    * ASOF join dedupes its signup side to MAX(event_id) per (user_id, ts)
    * to pin the same choice.
    */
  def purchaseAfterSignup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val tagged = ev
      .filter(col("event_type").isin("purchase", "signup"))
      .select(
        col("event_id"), col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "signup", col("event_id")).as("signup_id"))
    // signups sort before purchases at identical ts (is_signup desc)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, (col("event_type") === "signup").desc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("prior_signup_id",
        coalesce(last(col("signup_id"), ignoreNulls = true).over(w), lit(-1L)))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("prior_signup_id"))
  }

  /** The same as-of join answered by graft's NATIVE operator
    * ([[graft.plans.AsOfJoin]]: custom logical node → planner strategy →
    * per-partition merge exec) instead of the union+window composition —
    * the two formulations share one oracle, pinning that the custom
    * physical operator computes exactly the composed semantics. Each
    * side projects fresh aliases so the self-derived inputs carry
    * disjoint attribute ids (the operator's contract).
    */
  def purchaseAfterSignupNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("event_id"), col("user_id").as("user_id"),
        col("ts").as("p_ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
        col("event_id").as("signup_id"))
    graft.plans.AsOfJoinOps
      .asofLeft(purchases, signups, "user_id", "s_user", "p_ts", "s_ts", Seq("signup_id"))
      .select(col("event_id"), col("user_id"),
        coalesce(col("signup_id"), lit(-1L)).as("prior_signup_id"))
  }

  /** Wide→long unpivot (melt) — the inverse verb of `pivotRevenue`: a
    * per-priority metrics row explodes into one (priority, metric,
    * value) row per metric. `Dataset.unpivot` plans a narrow Expand —
    * each wide row emits |metrics| rows in place, no shuffle and no
    * join against a metric list — so melting N metric columns off a
    * 100 TB wide table costs the one scan the projection already pays.
    * All value columns are pre-cast to one double type (the unpivot
    * contract) on the exact decimal path.
    */
  def unpivotOrderMetrics(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).cast("double").as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_price"),
        max(col("o_totalprice")).as("max_price"))
    wide.unpivot(
      Array(col("o_orderpriority")),
      Array(col("n_orders"), col("total_price"), col("max_price")),
      "metric", "value")
  }

  /** Correlated LATERAL derived table through the SQL parser: each
    * customer's two priciest orders written as "run this subquery per
    * customer row" (`, LATERAL (... ORDER BY ... LIMIT 2)`). Catalyst
    * must decorrelate the per-row subquery into one window-ranked pass
    * over orders joined back on the equi key — never nested-loop
    * re-execution per outer row (SqlSurfaceSpec pins the optimized
    * plan), so the lateral surface costs the same as the explicit
    * `sqlWindowTopOrders` formulation at any scale.
    */
  def sqlLateralTopOrders(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders").foreach { t =>
      Tables(spark, dir, t).createOrReplaceTempView(s"graft_$t")
    }
    spark.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.total_price
        |FROM graft_customer c,
        |LATERAL (SELECT o_orderkey,
        |           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
        |         FROM graft_orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey ASC
        |         LIMIT 2) t""".stripMargin)
  }

  /** Mergeable distinct-count sketches (Apache DataSketches HLL via
    * `hll_sketch_agg` / `hll_union_agg`): per-month customer sketches
    * build in one map-side-combined pass (~KBs of state per group at
    * the default lgK=12), and the all-time total is a sketch UNION of
    * the 12 monthly buffers — the orders table is scanned exactly once.
    * This is the incremental-rollup pattern a 100 TB pipeline needs:
    * persist per-partition sketches and answer any window's distinct
    * count by merging stored state instead of recounting the raw data
    * (`approx_count_distinct` gives no such re-aggregatable state).
    * Sketch estimates are deterministic per engine but engine-specific
    * → rows-only at the driver; SketchPropertiesSpec pins that the
    * merged estimate equals a direct whole-table sketch and lands
    * within 2% of the exact distinct count.
    */
  def hllMergedDistinct(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
    val perMonth = monthly.select(
      date_format(col("m"), "yyyy-MM").as("scope"),
      hll_sketch_estimate(col("sk")).as("est_customers"))
    val total = monthly
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_customers"))
      .select(lit("total").as("scope"), col("est_customers"))
    perMonth.unionByName(total)
  }

  /** Audience overlap by theta sketches — the set-ALGEBRA extension of
    * [[hllMergedDistinct]]: one pass builds a distinct-user sketch per
    * segment, and the overlap ("users who did both") and reach
    * ("either") come from intersecting and unioning those sketches
    * instead of shuffling the full id universe per segment pair.
    *
    * Scale contract: each sketch is bounded (lgNomEntries = 12, so at
    * most 4096 retained hashes, ~32 KiB worst case), map-side partial
    * aggregation applies, and the sketch bytes re-aggregate later with
    * `theta_union_agg` / `theta_intersection_agg`. Below ~4096 distincts
    * the sketch is in exact mode and the estimates ARE the exact counts,
    * so the DuckDB oracle (COUNT DISTINCT / INTERSECT) hash-matches at
    * verify scale; `SketchPropertiesSpec` pins the estimation regime's
    * error bound.
    *
    * Both sketches come from one global aggregate, so a segment with no
    * rows still has an (empty) sketch and its overlap is 0; a group-by
    * per segment would drop its row and leave the other to intersect
    * with itself. The scalar `theta_intersection` also answers 0 over
    * no input at all, where `theta_intersection_agg` throws. The
    * built-in estimate is a BIGINT; the cast keeps the DOUBLE schema.
    */
  def thetaSegmentOverlap(spark: SparkSession, dir: String): DataFrame = {
    def users(eventType: String) =
      theta_sketch_agg(when(col("event_type") === eventType, col("user_id")))
    def est(sk: Column) = theta_sketch_estimate(sk).cast("double")
    Tables(spark, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .agg(users("purchase").as("p"), users("click").as("c"))
      .select(stack(lit(4),
        lit("purchase"), est(col("p")),
        lit("click"), est(col("c")),
        lit("both"), est(theta_intersection(col("p"), col("c"))),
        lit("either"), est(theta_union(col("p"), col("c"))))
        .as(Seq("scope", "est_users")))
  }

  /** Mergeable quantile rollup on KLL sketches — the rank-query member
    * of the sketch-algebra family (theta = distinct sets, Misra-Gries =
    * frequency, KLL = quantiles). One scan builds a bounded ~3 KiB
    * sketch per event_type; the global p50/p90/p99 then comes from
    * MERGING those per-group sketch bytes, never re-touching raw values
    * — the persistable-state pattern that answers "p99 over any union
    * of segments/days" at 100 TB from stored kilobytes. Neither the
    * exact two-pass quantile core ([[distributedPercentilesOf]]) nor
    * `approx_percentile` (not re-mergeable from stored state) can.
    * `q_stream_kll` keeps the same sketch bytes as its streaming state.
    *
    * Accuracy contract: KLL at k = 200 (the built-in default) carries
    * ≤ ~1.65 % rank error at 99 % confidence, quantiles use the
    * INCLUSIVE criterion, and compaction is RANDOMIZED — estimates are
    * not run-deterministic, so the query is rows-only and
    * `KllPropertiesSpec` pins the rank-error bound, merge consistency
    * and the byte format. A sketch that saw no value answers null.
    */
  def kllQuantileRollup(spark: SparkSession, dir: String): DataFrame = {
    val perType = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(kll_sketch_agg_double(col("value")).as("sk"))
    // the built-in quantile reader throws on an empty sketch
    def quantile(sk: Column, q: Double) =
      when(kll_sketch_get_n_double(sk) > 0, kll_sketch_get_quantile_double(sk, lit(q)))
    def qs(scope: Column, sk: Column) = Seq(
      scope.as("scope"),
      quantile(sk, 0.5).as("p50"),
      quantile(sk, 0.9).as("p90"),
      quantile(sk, 0.99).as("p99"))
    // one global aggregate over the per-type sketches keeps each of them
    // and merges the same ones into `all`: events is scanned once, and the
    // `all` row is the merge of exactly the sketches printed beside it. A
    // global aggregate answers one row on no input, so a table without
    // values still gives the `all` row, and a null event_type stays a null
    // scope instead of posing as `all`
    val merged = struct(lit("all").as("scope"), col("all").as("sk"))
    perType
      .agg(collect_list(struct(col("event_type").as("scope"), col("sk"))).as("per"),
        kll_merge_agg_double(col("sk")).as("all"))
      .select(explode(concat(col("per"), array(merged))).as("s"))
      .select(qs(col("s.scope"), col("s.sk")): _*)
  }
}
