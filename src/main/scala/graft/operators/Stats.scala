package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Statistical verbs over the star schema (SURVEY §2B extension): rank
  * correlation, two-sample testing, equi-width histograms, and rolling
  * autocorrelation — the screening statistics an analytics/curation
  * pipeline computes before and after every transformation.
  *
  * Exactness contract shared by every operator here: all SUMS run in
  * DECIMAL/integer domains (order-independent, exact on both engines) and
  * only the final scalar arithmetic — ratios, square roots — happens in
  * doubles, mirrored expression-for-expression in the oracle SQL, so
  * identical exact inputs produce identical IEEE outputs.
  */
object Stats {

  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))
  private def dd(c: Column): Column = c.cast("double")
  /** The round-9 → DECIMAL-sum channel's type: exact sums of doubles
    * rounded to 9 places, whatever the engine's summation order.
    */
  private val b9 = DecimalType(38, 9)

  /** Per-(event_type, hour) event counts `(event_type, hr, n)`: the
    * hourly series the time-series verbs fit, one map-side-combined
    * aggregate over the events scan.
    */
  private def hourlyCounts(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.raw(spark, dir, "events")
    raw.select(col("event_type"), Tables.microsDiv(raw, 3600000000L).as("hr"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n"))
  }

  /** One row per user `(user_id, t, ev)` for the survival verbs:
    * `t` is the whole hours from the user's first event to their first
    * purchase (`ev` true) or, censored, to their last event (`ev`
    * false).
    */
  private def survivalTimes(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.raw(spark, dir, "events")
    // exact floor division (subtract the pmod remainder first, so the
    // double quotient is an exact integer on both engines)
    def hourOf(c: Column): Column =
      ((c - pmod(c, lit(3600000000L))) / lit(3600000000L)).cast("long")
    raw.select(col("user_id"), col("event_type"), Tables.micros(raw).as("us"))
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("t0"),
        min(when(col("event_type") === "purchase", col("us"))).as("tp"),
        max(col("us")).as("tlast"))
      .select(col("user_id"),
        when(col("tp").isNotNull, hourOf(col("tp") - col("t0")))
          .otherwise(hourOf(col("tlast") - col("t0"))).as("t"),
        col("tp").isNotNull.as("ev"))
  }

  /** Pearson correlation from the six exact sums, guarded: NULL when
    * either variance term is zero (a constant series has no defined
    * correlation — and under Spark 4's ANSI mode an unguarded double
    * division by zero is an ERROR, not infinity: the 100× sweep found
    * this live, because replica interleaving creates runs of identical
    * values and therefore zero-variance frames). The guard is
    * cross-engine exact: the variance terms come from decimal sums, so
    * a constant window computes EXACTLY 0.0 on both engines and any
    * true nonzero variance of 2-decimal data sits orders of magnitude
    * above double rounding error.
    */
  private def pearsonFromSums(cnt: Column, sx: Column, sy: Column,
      sxy: Column, sxx: Column, syy: Column): Column = {
    val vx = dd(cnt) * dd(sxx) - dd(sx) * dd(sx)
    val vy = dd(cnt) * dd(syy) - dd(sy) * dd(sy)
    round(when(vx > 0 && vy > 0,
      (dd(cnt) * dd(sxy) - dd(sx) * dd(sy)) / (sqrt(vx) * sqrt(vy))), 6)
  }

  /** Spearman rank correlation between `l_quantity` and `l_extendedprice`
    * per `l_returnflag` — the tie-robust, outlier-robust dependence
    * screen (Pearson on mid-ranks).
    *
    * The scale story is the RANKING, not the correlation: mid-ranks come
    * from the per-(group, value) HISTOGRAM — `2·below(v) + cnt(v) + 1`
    * (doubled to stay integer-exact through ties) — and `below(v)` is a
    * TWO-PHASE prefix sum over the histogram: value-range slices from a
    * broadcast min/max, per-slice subtotals prefix-summed on the tiny
    * |slices × groups| relation, then a running sum only WITHIN each
    * slice. No global-sort rank window ever touches the full relation
    * (the one-reducer-per-group shape q_percentiles_dist already
    * retired); ranks join back on (group, value) — histogram-sized, not
    * row-sized, exchanges. The rho arithmetic runs on exact decimal sums
    * of integer rank products; only the final ratio/sqrt is double.
    */
  def spearmanQuantityPrice(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir, "lineitem").select(
      col("l_returnflag").as("g"), col("l_quantity").as("x"), col("l_extendedprice").as("y"))

    // scale-0 decimal products/sums stay EXACT (no fractional digits to
    // shave when precision caps); each exact sum converts to double ONCE
    // and the rho arithmetic is mirrored double ops — identical on both
    // engines because every input double is identical
    val big = DecimalType(38, 0)

    // ALL SIX SUMS COMPUTE HISTOGRAM-SIDE (r15): the former shape joined
    // both rank tables back onto the row relation — two row-level
    // shuffles whose only purpose was pairing rx with ry per row. But
    // Σ rx·ry = Σ_{(g,y)} ry · (Σ_{rows at (g,y)} rx): annotating the
    // y-histogram with exact per-(g,y) rx sums while it is BUILT turns
    // the cross term (and every other sum) into arithmetic over
    // histogram-sized relations. One pass over src builds that
    // annotated histogram; nothing row-sized ever shuffles again.
    //
    // x (l_quantity) is DOMAIN-BOUNDED (TPC-H quantity ∈ 1..50): its
    // per-group histogram is ≤ |domain|·|groups| rows at ANY corpus
    // size, so a cumulative window over the histogram is scale-safe and
    // broadcastable, and the mid-rank doubles rx = 2·below + c + 1 are
    // the same exact integers the sliced construction produced.
    val wx = Window.partitionBy(col("g")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val rxTab = src.groupBy(col("g"), col("x")).agg(count(lit(1)).as("cx"))
      .withColumn("rx", lit(2L) * coalesce(sum(col("cx")).over(wx), lit(0L)) + col("cx") + 1L)
      .select(col("g"), col("x"), col("rx"))

    // y (l_extendedprice) is unbounded-cardinality: its histogram keeps
    // the sliced two-phase prefix-sum ranking (no global-sort window
    // ever touches an unbounded relation). The same scan that builds it
    // folds in the exact decimal rx sums.
    val histY = src.join(broadcast(rxTab), Seq("g", "x"))
      .groupBy(col("g"), col("y").as("v"))
      .agg(count(lit(1)).as("c"),
        sum(col("rx").cast(big)).as("srx"),
        sum(col("rx").cast(big) * col("rx").cast(big)).as("srx2"))

    val slices = 32
    val bounds = histY.groupBy(col("g"))
      .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    // slice id is internal to THIS side only (the oracle ranks by
    // window) — it shapes the distribution, never the result, so the
    // double arithmetic here needs no cross-engine mirror
    val withPid = histY.join(broadcast(bounds), Seq("g"))
      .withColumn("pid",
        when(col("vmax") === col("vmin"), lit(0)).otherwise(
          least(floor((col("v") - col("vmin")) * slices / (col("vmax") - col("vmin"))),
            lit(slices - 1))).cast("int"))
    val bases = withPid.groupBy(col("g"), col("pid")).agg(sum(col("c")).as("sc"))
      .withColumn("base", coalesce(sum(col("sc")).over(
        Window.partitionBy(col("g")).orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("g"), col("pid"), col("base"))
    val ranked = withPid.join(broadcast(bases), Seq("g", "pid"))
      .withColumn("below", col("base") + coalesce(sum(col("c")).over(
        Window.partitionBy(col("g"), col("pid")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("ry", lit(2L) * col("below") + col("c") + 1L)

    // Σ over rows regrouped as Σ over histogram cells — exact integer
    // identities (n = Σc, sx = Σ srx, sy = Σ c·ry, sxy = Σ srx·ry, …)
    val sums = ranked.groupBy(col("g")).agg(
      sum(col("c")).as("n"),
      sum(col("srx")).as("sx"),
      sum(col("c").cast(big) * col("ry").cast(big)).as("sy"),
      sum(col("srx") * col("ry").cast(big)).as("sxy"),
      sum(col("srx2")).as("sxx"),
      sum(col("c").cast(big) * col("ry").cast(big) * col("ry").cast(big)).as("syy"))
    sums.select(
      col("g").as("l_returnflag"), col("n"),
      pearsonFromSums(col("n"), col("sx"), col("sy"),
        col("sxy"), col("sxx"), col("syy")).as("spearman_rho"))
  }

  /** Welch's two-sample t-test over the event log: arm A = even
    * `user_id`, arm B = odd (the deterministic assignment an A/B system
    * would persist), comparing mean `value`. One map-side-combined
    * aggregate computes both arms' exact decimal (n, Σv, Σv²) in a
    * single scan; means, variances, the t statistic, and the
    * Welch–Satterthwaite degrees of freedom derive from those six exact
    * numbers in mirrored double arithmetic. The 100 TB shape is the
    * scan itself — everything after the aggregate is O(1).
    */
  def welchTTest(spark: SparkSession, dir: String): DataFrame = {
    val sq = DecimalType(38, 4)
    val arm = (pmod(col("user_id"), lit(2)) === 0).as("arm_a")
    val agg = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(arm, col("value"))
      .groupBy(col("arm_a"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).as("s"),
        sum((dec(col("value")) * dec(col("value"))).cast(sq)).as("ss"))
    def side(a: Boolean, p: String) = agg.filter(col("arm_a") === a)
      .select(col("n").as(s"n_$p"), col("s").as(s"s_$p"), col("ss").as(s"ss_$p"))
    val wide = side(a = true, "a").crossJoin(side(a = false, "b"))
    // mean/var/t/df in doubles FROM the exact sums — expression shapes
    // mirrored in the oracle so both engines round identically
    def mean(p: String) = col(s"s_$p").cast("double") / col(s"n_$p")
    // n−1 guard: a single-row arm has no sample variance, and under
    // ANSI the bare division would be an error, not infinity
    def variance(p: String) = when(col(s"n_$p") > 1,
      (col(s"ss_$p").cast("double") - col(s"s_$p").cast("double") *
        col(s"s_$p").cast("double") / col(s"n_$p")) / (col(s"n_$p") - 1))
    val va = variance("a") / col("n_a")
    val vb = variance("b") / col("n_b")
    // guards mirror the ANSI divide-by-zero contract (see
    // pearsonFromSums): two constant arms have no defined t/df
    wide.select(
      col("n_a"), col("n_b"),
      round(mean("a"), 6).as("mean_a"), round(mean("b"), 6).as("mean_b"),
      round(variance("a"), 6).as("var_a"), round(variance("b"), 6).as("var_b"),
      round(when(va + vb > 0, (mean("a") - mean("b")) / sqrt(va + vb)), 6).as("t_stat"),
      round(when(va * va / (col("n_a") - 1) + vb * vb / (col("n_b") - 1) > 0,
        (va + vb) * (va + vb) /
          (va * va / (col("n_a") - 1) + vb * vb / (col("n_b") - 1))), 6).as("df"))
  }

  /** Equi-width histogram of `o_totalprice` in 16 bins — the
    * distribution snapshot complement of the equi-depth
    * [[Relational.decileStats]]: bin edges come from one broadcast
    * min/max row (two narrow passes total), the bin index is a pure
    * projection, and the counts are one map-side-combined aggregate
    * whose output is |bins|. The bin arithmetic is double but mirrored
    * exactly in the oracle: identical inputs → identical IEEE results →
    * identical floor.
    */
  def priceHistogram(spark: SparkSession, dir: String, bins: Int = 16): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    val bounds = orders.agg(
      min(col("o_totalprice")).as("vmin"), max(col("o_totalprice")).as("vmax"))
    orders.crossJoin(broadcast(bounds))
      // constant-column guard: vmax == vmin would divide by zero (an
      // error under ANSI, not NULL) — a degenerate table lands in bin 0
      .withColumn("bin",
        when(col("vmax") === col("vmin"), lit(0)).otherwise(
          least(floor((col("o_totalprice") - col("vmin")) * bins / (col("vmax") - col("vmin"))),
            lit(bins - 1))).cast("int"))
      .groupBy(col("bin"), col("vmin"), col("vmax"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"),
        round(col("vmin") + col("bin") * (col("vmax") - col("vmin")) / bins, 4).as("bin_lo"),
        round(col("vmin") + (col("bin") + 1) * (col("vmax") - col("vmin")) / bins, 4).as("bin_hi"),
        col("n"))
  }

  /** The DISTRIBUTED twin of [[rollingAutocorr]] — same rows, same
    * bits, bounded partitions. The plain form's window partitions by
    * `event_type` alone: 5 partitions total, each holding its type's
    * ENTIRE history — measured 3.8× at 10× data because each of the 5
    * reducers does 10× the work (at 100 TB one reducer gets one type's
    * 20 TB; the sort spills and nothing parallelizes).
    *
    * The fix is the ordered-window analog of `q_percentiles_dist`'s
    * bounded-state quantiles: (1) EXACT global ranks per type from a
    * two-phase prefix sum — local ranks within (type, time-bucket)
    * plus broadcast per-bucket base offsets (the packedOffsets shape);
    * (2) rank-range slices of `sliceRows` each, so partition size is a
    * CHOSEN constant, independent of type skew; (3) the last `frame`
    * rows of each slice REPLICATE into the next slice as context —
    * every trailing frame then lies within one partition, and context
    * rows' own outputs are dropped. Emission by `cnt == frame` (the
    * pair count the frame actually saw) reproduces the unsliced
    * full-frame contract exactly: context guarantees `frame` available
    * rows everywhere except the genuine start of a type's history.
    * StatsSpec pins bit-identity against the single-partition form;
    * the oracle is SHARED with `q_rolling_autocorr` — one oracle, two
    * plans.
    */
  def rollingAutocorrDist(spark: SparkSession, dir: String,
      frame: Int = 50, sliceRows: Int = 4096): DataFrame = {
    require(sliceRows >= frame, s"sliceRows ($sliceRows) must be >= frame ($frame)")
    val sq = DecimalType(38, 4)
    val ev = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("ts"), col("event_id"), dec(col("value")).as("x"))
    // phase 1: exact global rank per type = per-(type, hour-bucket)
    // local rank + prefix-summed bucket bases (tiny |types × buckets|
    // relation — the packedOffsets two-phase shape)
    val bucketed = ev.withColumn("bkt", date_trunc("hour", col("ts")))
    val localW = Window.partitionBy(col("event_type"), col("bkt"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val bases = bucketed.groupBy(col("event_type"), col("bkt")).agg(count(lit(1)).as("c"))
      .withColumn("base", coalesce(sum(col("c")).over(
        Window.partitionBy(col("event_type")).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("event_type"), col("bkt"), col("base"))
    val ranked = bucketed
      .withColumn("lrn", row_number().over(localW))
      .join(broadcast(bases), Seq("event_type", "bkt"))
      .withColumn("rank", col("base") + col("lrn"))
      .drop("bkt", "lrn", "base")
    // phase 2: rank-range slices + frame-row context replication into
    // the NEXT slice (different slice id → different partition, so the
    // copy can never collide with its original)
    val sliced = ranked.withColumn("slice", ((col("rank") - 1) / sliceRows).cast("long"))
    val context = sliced
      .filter(col("rank") > (col("slice") + 1) * sliceRows - frame)
      .withColumn("slice", col("slice") + 1)
      .withColumn("own", lit(false))
    val union = sliced.withColumn("own", lit(true)).unionByName(context)
    val ordW = Window.partitionBy(col("event_type"), col("slice"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pairs = union
      .withColumn("y", lag(col("x"), 1).over(ordW))
      .filter(col("y").isNotNull)
    // Frame sums as CUMULATIVE sums minus their `lag(cum, frame)` —
    // Spark evaluates a bounded sliding frame by REPLAYING the frame
    // buffer per row (no aggregate retraction), so six direct
    // `rowsBetween(-(frame-1), current)` sums cost O(frame) per row;
    // the running-sum + lag formulation is O(1) per row and EXACT for
    // decimals (decimal addition is associative, so cum(i) −
    // cum(i−frame) reproduces the frame sum bit-for-bit — StatsSpec
    // pins bit-identity against the single-partition form). All window
    // expressions share one (type, slice) partition + sort, so the two
    // Window nodes ride a single exchange and one partition-local sort.
    val cumW = ordW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCums = pairs.select(col("*"),
      row_number().over(ordW).as("rn"),
      sum(col("x")).over(cumW).as("cx"),
      sum(col("y")).over(cumW).as("cy"),
      sum((col("x") * col("y")).cast(sq)).over(cumW).as("cxy"),
      sum((col("x") * col("x")).cast(sq)).over(cumW).as("cxx"),
      sum((col("y") * col("y")).cast(sq)).over(cumW).as("cyy"))
    def frameDiff(c: String) =
      col(c) - coalesce(lag(col(c), frame).over(ordW), lit(0))
    val withSums = withCums.select(col("*"),
      frameDiff("rn").cast("long").as("cnt"),
      frameDiff("cx").as("sx"),
      frameDiff("cy").as("sy"),
      frameDiff("cxy").as("sxy"),
      frameDiff("cxx").as("sxx"),
      frameDiff("cyy").as("syy"))
      .filter(col("own") && col("cnt") === frame)
    withSums.select(col("event_type"), col("event_id"),
      pearsonFromSums(col("cnt"), col("sx"), col("sy"),
        col("sxy"), col("sxx"), col("syy")).as("autocorr"))
  }

  /** Shared two-phase cumulative-count core for the nonparametric tests:
    * per-distinct-value arm counts with an EXACT running total over the
    * value order, computed without a global-sort window. Value-range
    * slices come from one broadcast min/max row; per-slice subtotals
    * prefix-sum on the |slices|-row relation; the running sum only ever
    * orders WITHIN a slice — the same shape [[spearmanQuantityPrice]]'s
    * ranks and `q_percentiles_dist` use, so partition size is a chosen
    * constant and no reducer sees the full value domain.
    *
    * Output per distinct value: `(v, ca, cb, below_a, below_b)` where
    * `below_*` counts that arm's rows with value STRICTLY below `v`.
    */
  private def armCumCounts(hist: DataFrame, slices: Int = 32): DataFrame = {
    val bounds = hist.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val withPid = hist.crossJoin(broadcast(bounds))
      .withColumn("pid",
        when(col("vmax") === col("vmin"), lit(0)).otherwise(
          least(floor((col("v") - col("vmin")) * slices / (col("vmax") - col("vmin"))),
            lit(slices - 1))).cast("int"))
      .drop("vmin", "vmax")
    val bases = withPid.groupBy(col("pid"))
      .agg(sum(col("ca")).as("sa"), sum(col("cb")).as("sb"))
      .withColumn("base_a", coalesce(sum(col("sa")).over(
        Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("base_b", coalesce(sum(col("sb")).over(
        Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("base_a"), col("base_b"))
    val wIn = Window.partitionBy(col("pid")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    withPid.join(broadcast(bases), Seq("pid"))
      .withColumn("below_a", col("base_a") + coalesce(sum(col("ca")).over(wIn), lit(0L)))
      .withColumn("below_b", col("base_b") + coalesce(sum(col("cb")).over(wIn), lit(0L)))
      .select(col("v"), col("ca"), col("cb"), col("below_a"), col("below_b"))
  }

  /** Per-arm distinct-value histogram of `events.value` under the
    * persisted even/odd `user_id` experiment assignment (the same arms
    * as [[welchTTest]] / `q_js_divergence`). One map-side-combined
    * aggregate; output is |distinct values| — the relation every
    * nonparametric test here runs on.
    */
  private def armValueHist(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select((pmod(col("user_id"), lit(2)) === 0).as("arm_a"), col("value").as("v"))
      .groupBy(col("v"))
      .agg(count(when(col("arm_a"), 1)).as("ca"),
        count(when(!col("arm_a"), 1)).as("cb"))

  /** Two-sample Kolmogorov–Smirnov statistic between the experiment
    * arms' `value` distributions — the distribution-shape drift test
    * completing the monitoring tier (PSI/JSD/chi-square compare binned
    * or categorical mass; KS compares the FULL empirical CDFs, no
    * binning choice to defend). D = max over observed values of
    * |F_a(v) − F_b(v)|; the maximand is computed in exact integers as
    * |cum_a·n_b − cum_b·n_a| (DECIMAL(38,0), overflow-proof at any
    * corpus size), so the max is ordering-exact on both engines and
    * only the final D ratio is (mirrored) double arithmetic. The
    * cumulative counts are the [[armCumCounts]] two-phase prefix sum —
    * no global-sort window anywhere; at 100 TB the cost is the one
    * histogram scan.
    */
  def ksTest(spark: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    val hist = armValueHist(spark, dir)
    val cum = armCumCounts(hist)
      .select(col("v"),
        (col("below_a") + col("ca")).as("cum_a"),
        (col("below_b") + col("cb")).as("cum_b"))
    val tot = hist.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    cum.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        abs(col("cum_a").cast(big) * col("n_b") -
          col("cum_b").cast(big) * col("n_a")).as("dn"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(col("dn")).as("d_num"))
      // empty-arm guard (house ANSI contract): one-sample data has no
      // two-sample statistic — NULL, not a divide-by-zero error
      .select(col("n_a"), col("n_b"),
        round(when(col("n_a") > 0 && col("n_b") > 0,
          col("d_num").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double"))), 6).as("ks_d"))
  }

  /** Mann–Whitney U between the experiment arms — the rank-based
    * location test (the nonparametric complement of [[welchTTest]]:
    * robust to the heavy-tailed `value` distributions telemetry
    * actually has). Mid-ranks come from the same doubled-rank trick as
    * [[spearmanQuantityPrice]] (`r2 = 2·below + c + 1`, integer-exact
    * through ties) over the pooled histogram, with [[armCumCounts]]'s
    * sliced prefix sum supplying `below` — no global rank window. The
    * rank sum, U, the tie-correction term Σ(c³−c), and every other
    * sufficient statistic are exact DECIMAL(38,0) sums; the normal
    * approximation z (with tie correction) is O(1) mirrored double
    * arithmetic after the aggregate, NULL-guarded for the degenerate
    * all-values-equal case per the house ANSI contract.
    */
  def mannWhitneyU(spark: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    val cum = armCumCounts(armValueHist(spark, dir))
      .withColumn("c", col("ca") + col("cb"))
      .withColumn("below", col("below_a") + col("below_b"))
      // doubled mid-rank: exact integer through ties
      .withColumn("r2", lit(2L) * col("below") + col("c") + 1L)
    val sums = cum.agg(
      sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
      sum(col("r2").cast(big) * col("ca")).as("r2a"),
      sum(col("c").cast(big) * col("c") * col("c") - col("c")).as("ties"))
    def d(name: String) = col(name).cast("double")
    val u = sums
      // doubled U: 2·U_a = Σ r2·ca − n_a·(n_a+1)
      .withColumn("u2a", col("r2a") - col("n_a").cast(big) * (col("n_a") + 1))
      .withColumn("nn", col("n_a") + col("n_b"))
      // nn ≤ 1 guard: the tie-correction denominator nn·(nn−1) is zero
      // for a single pooled row — NULL variance, not an ANSI error
      .withColumn("varu", when(col("nn") > 1, d("n_a") * d("n_b") / 12.0 *
        ((d("nn") + 1) - d("ties") / (d("nn") * (d("nn") - 1)))))
    u.select(col("n_a"), col("n_b"),
      (d("u2a") / 2).as("u_a"),
      round(when(col("varu") > 0,
        (d("u2a") - d("n_a") * d("n_b")) / (lit(2d) * sqrt(col("varu")))), 6).as("z"))
  }

  /** Hour-of-day SEASONAL decomposition of `events.value` per event
    * type — the additive profile `value ≈ type_mean + seasonal(hod)`
    * a telemetry monitor subtracts before alerting (a metric that is
    * "anomalous" every night at 3am isn't anomalous). One map-side-
    * combined aggregate builds the |types|×24 cell grid of exact
    * decimal (n, Σv); type-level totals derive from the GRID (tiny,
    * no second scan), and every mean/offset is O(1) mirrored double
    * arithmetic on the exact sums — the [[welchTTest]] sufficient-
    * statistics shape. At 100 TB the cost is the one scan.
    */
  def seasonalProfile(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), hour(col("ts")).as("hod"), dec(col("value")).as("x"))
      .groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val types = cells.groupBy(col("event_type"))
      .agg(sum(col("n")).as("tn"), sum(col("s")).as("ts_sum"))
    cells.join(broadcast(types), Seq("event_type"))
      .select(col("event_type"), col("hod"), col("n"),
        round(col("s").cast("double") / col("n"), 6).as("hod_mean"),
        round(col("s").cast("double") / col("n") -
          col("ts_sum").cast("double") / col("tn"), 6).as("seasonal"))
  }

  /** Seasonal-residual ANOMALY detection — the alerting composition of
    * [[seasonalProfile]]: an event is anomalous when its value sits more
    * than `zThreshold` population standard deviations from ITS OWN
    * (type, hour-of-day) cell's mean — so a metric that is loud every
    * night at 3am only alerts when it deviates from 3am's OWN
    * distribution. One grouped aggregate builds the |types|×24 cell
    * moments (exact decimal n/Σv/Σv²), broadcast back over the stream;
    * the z-score is O(1) mirrored double arithmetic per row and the
    * flag filter runs map-side. Degenerate cells (zero variance /
    * single row) produce NULL z and flag nothing, per the house ANSI
    * contract.
    */
  def seasonalAnomalies(spark: SparkSession, dir: String,
      zThreshold: Double = 3.0): DataFrame = {
    val sq = DecimalType(38, 4)
    val ev = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), hour(col("ts")).as("hod"),
        col("event_id"), col("value"), dec(col("value")).as("x"))
    val cells = ev.groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum((col("x") * col("x")).cast(sq)).as("ss"))
    ev.join(broadcast(cells), Seq("event_type", "hod"))
      .withColumn("mean", col("s").cast("double") / col("n"))
      .withColumn("varp",
        col("ss").cast("double") / col("n") - col("mean") * col("mean"))
      .filter(col("varp") > 0)
      .withColumn("z", (col("x").cast("double") - col("mean")) / sqrt(col("varp")))
      .filter(abs(col("z")) > zThreshold)
      .select(col("event_type"), col("hod"), col("event_id"),
        col("value"), round(col("z"), 6).as("z"))
  }

  /** Per-group ordinary least squares — `l_extendedprice` regressed on
    * `l_quantity` within each return flag: slope, intercept, and R²,
    * the screening fit an analytics pipeline runs before shipping a
    * feature. One map-side-combined aggregate computes the six exact
    * decimal sums per group in a single scan (the same
    * sufficient-statistics shape as [[welchTTest]]); everything after
    * is O(1) mirrored double arithmetic — no second pass, no driver
    * round-trip, and at 100 TB the cost is the scan. Zero-variance
    * guards follow the house ANSI contract (NULL fit for a constant
    * regressor — and for R², a constant response).
    */
  def olsRegression(spark: SparkSession, dir: String): DataFrame = {
    val sq = DecimalType(38, 4)
    val sums = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag").as("g"),
        dec(col("l_quantity")).as("x"), dec(col("l_extendedprice")).as("y"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast(sq)).as("sxy"),
        sum((col("x") * col("x")).cast(sq)).as("sxx"),
        sum((col("y") * col("y")).cast(sq)).as("syy"))
    def d(name: String) = col(name).cast("double")
    // slope staged as a named column so the intercept reuses the SAME
    // computed double (the oracle mirrors with a CTE over its slope)
    val fit = sums
      .withColumn("vx", d("n") * d("sxx") - d("sx") * d("sx"))
      .withColumn("vy", d("n") * d("syy") - d("sy") * d("sy"))
      .withColumn("cov", d("n") * d("sxy") - d("sx") * d("sy"))
      .withColumn("slope", when(col("vx") > 0, col("cov") / col("vx")))
    fit.select(col("g").as("l_returnflag"), col("n"),
      round(col("slope"), 6).as("slope"),
      round((d("sy") - col("slope") * d("sx")) / d("n"), 6).as("intercept"),
      round(when(col("vx") > 0 && col("vy") > 0,
        col("cov") * col("cov") / (col("vx") * col("vy"))), 6).as("r2"))
  }

  /** Null/value cleaning via the `DataFrameNaFunctions` surface —
    * `na.fill` (impute a sentinel value), `na.replace` (recode a
    * label), `na.drop` (require keys) — the standard pre-aggregation
    * scrub, exercised as one chain and summarized so the oracle pins
    * all three semantics. Everything stays a narrow projection+filter:
    * Catalyst folds the na.* calls into ordinary
    * coalesce/CASE/IsNotNull expressions inside one codegen stage.
    */
  def naCleanedSummary(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .na.drop(Seq("user_id", "event_type"))
      .na.fill(Map("value" -> -1.0))
      .na.replace("event_type", Map("view" -> "impression"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("total"),
        count(when(col("value") === -1.0, 1)).as("n_imputed"))

  /** Contingency table via the `DataFrameStatFunctions` surface
    * (`df.stat.crosstab`) — language × source counts over the corpus,
    * the mix snapshot a curation pipeline watches across loads. Spark
    * plans it as one grouped aggregate pivoted over the distinct
    * column-2 values; output is |langs| × |sources| — bounded by the
    * label vocabularies, independent of corpus size.
    */
  def langSourceCrosstab(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").stat.crosstab("lang", "source")

  /** Rolling autocorrelation (lag 1, trailing 50 pairs) of `value` per
    * event type — the drift/regime-change monitor over telemetry. Pairs
    * come from one `lag` on the (type-keyed, time-sorted) stream; the
    * rolling Pearson then needs six FRAME SUMS, all in exact decimal
    * (a frame sum of doubles would depend on each engine's summation
    * order — segment trees vs running accumulation — where decimal
    * addition is associative and exact), sharing the pair window's one
    * exchange+sort. Rows before the frame fills are suppressed: a
    * 2-row correlation is noise, and the full-frame contract makes the
    * output independent of how early rows would pad.
    */
  def rollingAutocorr(spark: SparkSession, dir: String, frame: Int = 50): DataFrame = {
    val sq = DecimalType(38, 4)
    val ord = Window.partitionBy(col("event_type")).orderBy(col("ts").asc, col("event_id").asc)
    val pairs = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("ts"), col("event_id"), dec(col("value")).as("x"))
      .withColumn("y", lag(col("x"), 1).over(ord))
      .filter(col("y").isNotNull)
    val f = Window.partitionBy(col("event_type")).orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-(frame - 1), Window.currentRow)
    val withSums = pairs
      .withColumn("rn", row_number().over(ord))
      .withColumn("cnt", count(lit(1)).over(f))
      .withColumn("sx", sum(col("x")).over(f))
      .withColumn("sy", sum(col("y")).over(f))
      .withColumn("sxy", sum((col("x") * col("y")).cast(sq)).over(f))
      .withColumn("sxx", sum((col("x") * col("x")).cast(sq)).over(f))
      .withColumn("syy", sum((col("y") * col("y")).cast(sq)).over(f))
      .filter(col("rn") >= frame)
    // each exact decimal frame sum → double once, then mirrored double
    // arithmetic (a decimal product of the wide sums would hit the two
    // engines' different precision-cap rules; doubles are identical)
    withSums.select(col("event_type"), col("event_id"),
      pearsonFromSums(col("cnt"), col("sx"), col("sy"),
        col("sxy"), col("sxx"), col("syy")).as("autocorr"))
  }

  /** COHEN'S KAPPA — inter-annotator agreement over a 3-category
    * labeling task, the QA gate every human- or model-labeled training
    * set passes before its labels are trusted. Two deterministic
    * md5-derived annotators with engineered partial agreement (B copies
    * A on ~3/4 of documents, relabels independently otherwise), so the
    * full (observed, expected, kappa) arithmetic is oracle-pinned.
    *
    * One pass: a single aggregate row carries the agreement count and
    * all six per-category marginals; p_o and p_e derive from EXACT
    * integer counts (cast to double only for the final divisions), so
    * no cross-engine float accumulation exists anywhere. Cost = one
    * scan + one 1-row aggregate at any corpus size.
    */
  def cohenKappa(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.md5Bucket
    val docs = Tables(spark, dir, "documents").select(col("doc_id"))
    val a = md5Bucket(concat(lit("a_"), col("doc_id").cast("string")), 3)
    val b0 = md5Bucket(concat(lit("b_"), col("doc_id").cast("string")), 3)
    val copies = md5Bucket(concat(lit("agree_"), col("doc_id").cast("string")), 4) < 3
    val labeled = docs.select(a.as("a"), when(copies, a).otherwise(b0).as("b"))
    val counts = labeled.agg(
      count(lit(1)).as("n"),
      sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"),
      sum(when(col("a") === 0, 1L).otherwise(0L)).as("a0"),
      sum(when(col("a") === 1, 1L).otherwise(0L)).as("a1"),
      sum(when(col("a") === 2, 1L).otherwise(0L)).as("a2"),
      sum(when(col("b") === 0, 1L).otherwise(0L)).as("b0"),
      sum(when(col("b") === 1, 1L).otherwise(0L)).as("b1"),
      sum(when(col("b") === 2, 1L).otherwise(0L)).as("b2"))
    // products as doubles in a FIXED order (mirrored verbatim by the
    // oracle): exact for any per-category count < 2^26, and immune to
    // the n² bigint overflow a trillion-row corpus would hit
    val po = dd(col("agree")) / dd(col("n"))
    val pe = (dd(col("a0")) * dd(col("b0")) + dd(col("a1")) * dd(col("b1")) +
      dd(col("a2")) * dd(col("b2"))) / (dd(col("n")) * dd(col("n")))
    counts.select(
        col("n"),
        round(po, 6).as("p_observed"),
        round(pe, 6).as("p_expected"),
        round(when(lit(1.0) - pe > 0, (po - pe) / (lit(1.0) - pe))
          .otherwise(0.0), 6).as("kappa"))
  }

  /** CUSUM level-shift detection over per-type hourly event counts —
    * the classic sequential change-point monitor (Page 1954): the
    * one-sided cumulative sum S_t = max(0, S_{t−1} + (x_t − μ)) grows
    * only while the series runs above its mean and resets on dips, so
    * a sustained level shift crosses the alarm threshold while noise
    * does not. All arithmetic is INTEGER-EXACT by scaling: with H
    * observed hours and T total events per type, the step is
    * x_t·H − T (≡ (x_t − μ)·H), so S never touches a float and the
    * gate hash-matches DuckDB's recursive-CTE replay bit-for-bit (the
    * q_ewma typed-fold-vs-recursive-CTE contract). The fold is per-type
    * sequential by nature — the distributed shape is the hourly
    * count aggregation; each type's 720-row series folds in one task.
    * Alarm = scaled CUSUM above 2·T (two mean-hours of excess).
    */
  def cusumShifts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = hourlyCounts(spark, dir)
      .as[(String, Long, Long)]
    hourly.groupByKey(_._1).flatMapGroups { (t, it) =>
      val sorted = it.toIndexedSeq.sortBy(_._2)
      val total = sorted.map(_._3).sum
      val h = sorted.length.toLong
      var s = 0L
      sorted.iterator.map { case (_, hr, n) =>
        s = math.max(0L, s + (n * h - total))
        (t, hr, n, s, s > 2 * total)
      }
    }.toDF("event_type", "hr", "n", "cusum_scaled", "alarm")
  }

  /** HOLT LINEAR-TREND SMOOTHING — the forecasting verb next to
    * [[cusumShifts]]'s alarm and [[seasonalProfile]]'s decomposition:
    * double-exponential smoothing over each type's hourly count series,
    * `l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1})`,
    * `b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}`, initialized l₁=y₁, b₁=0,
    * emitting the one-step-ahead forecast `l_t + b_t` per point. The
    * fold is per-type sequential by nature (exactly the EWMA/CUSUM
    * shape): the distributed work is the hourly aggregation, each
    * type's calendar-bounded series folds in one task, and every step
    * is mirrored double arithmetic on exact integer counts so the
    * recursive-CTE oracle reproduces level/trend BIT-identically.
    */
  def holtLinear(spark: SparkSession, dir: String,
      alpha: Double = 0.5, beta: Double = 0.3): DataFrame = {
    import spark.implicits._
    val hourly = hourlyCounts(spark, dir)
      .as[(String, Long, Long)]
    hourly.groupByKey(_._1).flatMapGroups { (t, it) =>
      val sorted = it.toIndexedSeq.sortBy(_._2)
      var level = 0.0
      var trend = 0.0
      var first = true
      sorted.iterator.map { case (_, hr, n) =>
        val y = n.toDouble
        if (first) { first = false; level = y; trend = 0.0 }
        else {
          val prev = level
          level = alpha * y + (1 - alpha) * (level + trend)
          trend = beta * (level - prev) + (1 - beta) * trend
        }
        (t, hr, n, level, trend, level + trend)
      }
    }.toDF("event_type", "hr", "n", "level", "trend", "forecast_next")
  }

  /** HOLT BACKTEST — the forecast-accuracy readout on [[holtLinear]]:
    * each point's actual count scored against the PREVIOUS point's
    * one-step-ahead forecast, rolled up to per-type MAPE. Because the
    * Holt doubles are bit-exact on both engines, the per-point APEs
    * are too; the MAPE total uses the house round-9 → DECIMAL-sum →
    * round-6 contract so summation order cannot change the bits.
    * Counts are ≥ 1 by construction, so the denominator needs no
    * guard.
    */
  def holtBacktest(spark: SparkSession, dir: String,
      alpha: Double = 0.5, beta: Double = 0.3): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    holtLinear(spark, dir, alpha, beta)
      .withColumn("f_prev", lag(col("forecast_next"), 1).over(w))
      .filter(col("f_prev").isNotNull)
      .withColumn("ape",
        abs(col("n").cast("double") - col("f_prev")) / col("n").cast("double"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_points"),
        round(sum(round(col("ape"), 9).cast(DecimalType(38, 9))).cast("double") /
          count(lit(1)), 6).as("mape"))
  }

  /** THEIL'S U2 — the forecast-SKILL ratio that belongs next to
    * [[holtBacktest]]'s MAPE: U2 = RMSE(model) / RMSE(naïve
    * last-value), < 1 means the forecaster beats persistence, > 1
    * means the model is worse than doing nothing (the readout that
    * keeps a dashboard honest — MAPE alone can look respectable while
    * losing to the naïve baseline). Both error series ride the
    * bit-exact [[holtLinear]] doubles; squared errors bridge round-9
    * decimals; one guarded ratio of mirrored square roots.
    */
  def theilU(spark: SparkSession, dir: String,
      alpha: Double = 0.5, beta: Double = 0.3): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    holtLinear(spark, dir, alpha, beta)
      .withColumn("f_prev", lag(col("forecast_next"), 1).over(w))
      .withColumn("n_prev", lag(col("n"), 1).over(w))
      .filter(col("f_prev").isNotNull)
      .select(col("event_type"),
        round((dd(col("n")) - col("f_prev")) * (dd(col("n")) - col("f_prev")), 9)
          .cast(b9).as("e2"),
        round((dd(col("n")) - dd(col("n_prev"))) * (dd(col("n")) - dd(col("n_prev"))), 9)
          .cast(b9).as("d2"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_points"), sum(col("e2")).as("se2"),
        sum(col("d2")).as("sd2"))
      .select(col("event_type"), col("n_points"),
        round(sqrt(dd(col("se2")) / dd(col("n_points"))), 6).as("rmse_model"),
        round(sqrt(dd(col("sd2")) / dd(col("n_points"))), 6).as("rmse_naive"),
        round(when(dd(col("sd2")) > 0,
          sqrt(dd(col("se2"))) / sqrt(dd(col("sd2")))), 6).as("theil_u2"))
  }

  /** LJUNG–BOX PORTMANTEAU TEST (Ljung & Box 1978) on the Holt
    * one-step residuals — "is there structure the forecaster missed":
    * Q = n(n+2)·Σ_{k=1..6} ρ̂_k²/(n−k) over the first six residual
    * autocorrelations; under white-noise residuals Q ~ χ²₆, and the
    * even-df survival has the CLOSED FORM e^{−Q/2}(1+y+y²/2), y=Q/2 —
    * one mirrored `exp`, no incomplete-gamma machinery. The adequacy
    * check that belongs beside [[holtBacktest]]'s MAPE and
    * [[conformalCoverage]]'s calibration.
    *
    * EXACTNESS: residuals are the bit-exact [[holtLinear]] doubles;
    * the mean and every lag-product sum ride the round-9
    * DECIMAL(38,9) channel, so ρ̂_k and Q assemble from identical
    * exact sums on both engines.
    */
  def ljungBox(spark: SparkSession, dir: String,
      alpha: Double = 0.5, beta: Double = 0.3): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val res = holtLinear(spark, dir, alpha, beta)
      .withColumn("f_prev", lag(col("forecast_next"), 1).over(w))
      .filter(col("f_prev").isNotNull)
      .select(col("event_type"), col("hr"), (dd(col("n")) - col("f_prev")).as("e"))
    val m = res.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("e"), 9).cast(b9)).as("se"))
      .select(col("event_type"), col("n"),
        (dd(col("se")) / dd(col("n"))).as("ebar"))
    val d = res.join(broadcast(m), Seq("event_type"))
      .withColumn("d", col("e") - col("ebar"))
    val lagged = (1 to 6).foldLeft(d) { (df, k) =>
      df.withColumn(s"d$k", lag(col("d"), k).over(w))
    }
    val aggCols = sum(round(col("d") * col("d"), 9).cast(b9)).as("den") +:
      (1 to 6).map(k => sum(when(col(s"d$k").isNotNull,
        round(col("d") * col(s"d$k"), 9).cast(b9))
        .otherwise(lit(0).cast(b9))).as(s"num$k"))
    val agg = lagged.groupBy(col("event_type"), col("n"))
      .agg(aggCols.head, aggCols.tail: _*)
    val nD = dd(col("n"))
    val q = (1 to 6).map { k =>
      val rho = dd(col(s"num$k")) / dd(col("den"))
      rho * rho / (nD - lit(k.toDouble))
    }.reduce(_ + _) * nD * (nD + 2.0)
    agg.filter(col("n") > 6)
      .withColumn("q", q)
      .withColumn("y", col("q") / 2.0)
      .select(col("event_type"), col("n").as("n_resid"),
        round(dd(col("num1")) / dd(col("den")), 6).as("rho1"),
        round(col("q"), 6).as("q_stat"),
        round(exp(-col("y")) * (lit(1.0) + col("y")
          + col("y") * col("y") / 2.0), 6).as("p_value"))
  }

  /** SEASONAL STRENGTH per event type (Hyndman's tsfeatures
    * `seasonal_strength`, in its hour-of-day ANOVA form): over the
    * hourly activity series, 1 − SS_within-slot / SS_total for the 24
    * hour-of-day slots — 0 means the hour of day explains nothing,
    * →1 means the daily cycle IS the series. Published with the peak
    * slot (argmax slot mean, tie-broken earliest) — the two numbers a
    * capacity planner reads first. All sums are integers over the
    * CALENDAR-BOUNDED hourly axis; the strength assembles from exact
    * sufficient statistics with mirrored double expressions.
    */
  def seasonalStrength(spark: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyCounts(spark, dir)
      .withColumn("slot", pmod(col("hr"), lit(24L)))
    val slots = hourly.groupBy(col("event_type"), col("slot"))
      .agg(count(lit(1)).as("c"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("ss"))
    val wPeak = Window.partitionBy(col("event_type"))
      .orderBy((dd(col("s")) / dd(col("c"))).desc, col("slot").asc)
    val peak = slots.withColumn("rk", row_number().over(wPeak))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("slot").cast("int").as("peak_slot"),
        round(dd(col("s")) / dd(col("c")), 6).as("peak_mean"))
    val agg = slots.groupBy(col("event_type"))
      .agg(sum(col("c")).as("h"), sum(col("s")).as("st"), sum(col("ss")).as("sst"),
        sum(round(dd(col("s")) * dd(col("s")) / dd(col("c")), 9).cast(b9)).as("g2n"))
    val sst = dd(col("sst")) - dd(col("st")) * dd(col("st")) / dd(col("h"))
    val ssw = dd(col("sst")) - dd(col("g2n"))
    agg.join(broadcast(peak), Seq("event_type"))
      .select(col("event_type"), col("h").as("n_hours"),
        round(when(sst > 0, greatest(lit(1.0) - ssw / sst, lit(0.0))), 6)
          .as("seasonal_strength"),
        col("peak_slot"), col("peak_mean"))
  }

  /** SPLIT-CONFORMAL FORECAST CALIBRATION (Vovk et al.; Lei et al.
    * 2018) — the distribution-free coverage check every forecast
    * consumer should run: split each type's bit-exact Holt one-step
    * residual series in half chronologically, take the conformal
    * quantile q̂ = the ⌈0.9·(n_cal+1)⌉-th smallest calibration
    * |residual| (the rank computed by PURE INTEGER arithmetic
    * k = (9(n_cal+1)+9) div 10 — no fp ceil site), and report what
    * fraction of the HELD-OUT half lands within q̂ — ≈90% iff the
    * residuals are exchangeable; a drop is drift the MAPE can't see.
    * Residuals are the bit-identical [[holtLinear]] doubles on both
    * engines, so ordering, selection, and coverage all mirror exactly.
    */
  def conformalCoverage(spark: SparkSession, dir: String,
      alpha: Double = 0.5, beta: Double = 0.3): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val res = holtLinear(spark, dir, alpha, beta)
      .withColumn("f_prev", lag(col("forecast_next"), 1).over(w))
      .filter(col("f_prev").isNotNull)
      .select(col("event_type"), col("hr"),
        abs(dd(col("n")) - col("f_prev")).as("e"))
      .withColumn("rr", row_number().over(w))
    val m = res.groupBy(col("event_type")).agg(count(lit(1)).as("m"))
    val split = res.join(broadcast(m), Seq("event_type"))
      .withColumn("is_cal", col("rr") <= expr("m div 2"))
    val cal = split.filter(col("is_cal"))
      .withColumn("q_rank", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("e"), col("hr"))))
    val nCal = cal.groupBy(col("event_type")).agg(count(lit(1)).as("n_cal"))
    val qhat = cal.join(broadcast(nCal), Seq("event_type"))
      .filter(col("q_rank") ===
        least(expr("(9 * (n_cal + 1) + 9) div 10"), col("n_cal")))
      .select(col("event_type"), col("n_cal"), col("e").as("q_hat"))
    split.filter(!col("is_cal"))
      .join(broadcast(qhat), Seq("event_type"))
      .groupBy(col("event_type"), col("n_cal"), col("q_hat"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("e") <= col("q_hat"), 1L).otherwise(0L)).as("n_covered"))
      .select(col("event_type"), col("n_cal"), col("n_test"),
        round(col("q_hat"), 6).as("q_hat"),
        round(col("n_covered").cast("double") / col("n_test").cast("double"), 6)
          .as("coverage"))
  }

  /** LEAVE-ONE-OUT TARGET ENCODING — the feature-engineering staple
    * for high-cardinality categoricals (Micci-Barreca 2001): each
    * event's category is encoded as the mean target of OTHER rows in
    * the same category, `(sum_cat − own) / (n_cat − 1)` — excluding the
    * row itself is what prevents target leakage into training features.
    * Per-category sum/count come from a map-side-combined `groupBy`
    * (a handful of rows) BROADCAST back onto the log — never a
    * `Window.partitionBy(event_type)` over the full table, which at
    * scale funnels each category's entire log through one task.
    * Arithmetic is exact integer cents with ONE division per row, so
    * the gate hash-matches. Singleton categories yield NULL (no other
    * rows to borrow a mean from — imputation is a downstream policy).
    */
  def targetEncode(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100d).cast("long").as("cents"))
    val catStats = ev.groupBy(col("event_type"))
      .agg(sum(col("cents")).as("cat_sum"), count(lit(1)).as("cat_n"))
    // null-SAFE key (<=>): groupBy keeps a NULL category group and so
    // does the oracle's PARTITION BY — a plain equi-join would silently
    // drop null-category rows (r11 advice); still a BroadcastHashJoin
    ev.join(broadcast(catStats.withColumnRenamed("event_type", "cat_type")),
        col("event_type") <=> col("cat_type"))
      .select(col("event_id"), col("event_type"),
        round(when(col("cat_n") > 1,
          (col("cat_sum") - col("cents")).cast("double")
            / ((col("cat_n") - 1).cast("double") * 100d)), 6)
          .as("loo_mean"))
  }

  /** BENJAMINI–HOCHBERG FDR CORRECTION (Benjamini & Hochberg 1995)
    * across the per-event-type arm tests — the multiple-comparisons
    * step every experimentation platform runs after fanning one
    * experiment into m per-metric tests: rank the m p-values ascending,
    * find the largest i with p_(i) ≤ α·i/m, reject hypotheses 1..i.
    *
    * One test per event type: did arm A (even user ids) engage with the
    * type at a different rate than arm B — the [[twoProportionZ]]
    * statistic per type. Every arithmetic step before the p-value is
    * IEEE-exact on both engines (integer counts, divisions, one
    * correctly-rounded sqrt), so z is bit-identical; the two-sided
    * p-value uses the Abramowitz–Stegun 26.2.17 tail polynomial in
    * HORNER form spelled identically in both engines (`exp` is the one
    * transcendental — the same accepted cross-engine surface as the
    * entropy/divergence verbs' `ln`). Ranking orders by the bit-exact
    * |z| descending (≡ p ascending), never by the transcendental.
    *
    * THE 100 TB SHAPE: the log collapses to one (type, user) distinct
    * pass then m ≈ |types| sufficient-stat rows; the BH step itself is
    * a window over those m rows — driver-trivial at any corpus size.
    */
  def bhFdr(spark: SparkSession, dir: String, alpha: Double = 0.10): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val users = ev.select(col("user_id")).distinct()
      .select(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L).as("a"))
    val totals = users.agg(sum(col("a")).as("na"),
      (count(lit(1)) - sum(col("a"))).as("nb"))
    val perType = ev.select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type"))
      .agg(sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L)).as("ka"),
        sum(when(pmod(col("user_id"), lit(2)) =!= 0, 1L).otherwise(0L)).as("kb"))
    val scored = perType.crossJoin(broadcast(totals))
      .withColumn("pa", col("ka").cast("double") / col("na").cast("double"))
      .withColumn("pb", col("kb").cast("double") / col("nb").cast("double"))
      .withColumn("pp",
        (col("ka") + col("kb")).cast("double") / (col("na") + col("nb")).cast("double"))
      .withColumn("z", when(col("pp") > 0 && col("pp") < 1,
        (col("pa") - col("pb")) /
          sqrt(col("pp") * (lit(1.0) - col("pp")) *
            (lit(1.0) / col("na").cast("double") + lit(1.0) / col("nb").cast("double")))))
      .withColumn("az", abs(col("z")))
      // A&S 26.2.17: Φ-tail(x) = φ(x)·t·(b1 + t(b2 + t(b3 + t(b4 + t·b5)))),
      // t = 1/(1 + 0.2316419x); two-sided p = 2·tail(|z|)
      .withColumn("t", lit(1.0) / (lit(1.0) + lit(0.2316419) * col("az")))
      .withColumn("p", when(col("az").isNotNull,
        lit(2.0) * (exp(-(col("az") * col("az")) / lit(2.0)) / lit(2.5066282746310002) *
          (col("t") * (lit(0.319381530) + col("t") * (lit(-0.356563782) +
            col("t") * (lit(1.781477937) + col("t") * (lit(-1.821255978) +
              col("t") * lit(1.330274429)))))))))
    // the m-row BH step: rank by the BIT-EXACT |z| (≡ p ascending),
    // nulls (degenerate pooled rate) last and never rejected
    val w = Window.orderBy(col("az").desc_nulls_last, col("event_type").asc)
    val all = Window.partitionBy()
    scored
      .withColumn("i", row_number().over(w))
      .withColumn("m", count(col("z")).over(all))
      // compare the ROUNDED p (the published value) to the exact-IEEE
      // threshold — a 1-ulp exp() divergence can then never flip a
      // decision the two engines publish differently
      .withColumn("hold",
        col("p").isNotNull &&
          round(col("p"), 6) <= lit(alpha) * col("i").cast("double") / col("m").cast("double"))
      .withColumn("istar", max(when(col("hold"), col("i"))).over(all))
      .select(col("event_type"), col("ka"), col("kb"),
        round(col("z"), 6).as("z"), round(col("p"), 6).as("p_value"),
        col("i").cast("int").as("p_rank"),
        (col("i") <= coalesce(col("istar"), lit(0))).as("rejected"))
  }

  /** POISSON BOOTSTRAP over `events.value` — the bootstrap that works
    * on data too large to resample by index (Chamandy et al. 2012,
    * "Estimating Uncertainty for Massive Data Streams"): instead of
    * drawing n rows with replacement (which needs global coordination),
    * each replica gives each row an INDEPENDENT Poisson(1) multiplicity —
    * n resamples in ONE scan, map-side combined down to `b` aggregate
    * rows. The output is the full bootstrap distribution of the mean
    * (replica id, effective n, mean); CI = quantiles of these rows.
    *
    * Everything is integer-exact so the gate hash-matches: multiplicity
    * comes from the house md5 contract — and since md5 yields 128 bits,
    * ONE hash feeds TWO replicas (two disjoint 60-bit chunks → u ∈
    * [0,1) each → inverse Poisson CDF with literal e⁻¹ partial-sum
    * thresholds), halving the dominant per-row cost. Values become
    * exact cents (BIGINT); the only floating-point op is ONE final
    * division per replica — no order-dependent double accumulation on
    * either engine.
    */
  def bootstrapMeans(spark: SparkSession, dir: String, b: Int = 50): DataFrame = {
    // P(Poisson(1) ≤ k) for k = 0..5; multiplicity capped at 6
    // (P > 6 ≈ 8e-5 — the cap is part of the spelled-out contract)
    val t = Seq(0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183)
    // FOUR 32-bit uniforms per digest (was two 60-bit): the md5 per
    // (event, j) is this query's entire cost — 15M digests at sf0.1 —
    // and the Poisson inverse-CDF thresholds need ~20 bits, so 32 keeps
    // the grid bias ≤ 2⁻³² while halving the digest count (6.3 s → the
    // md5 budget of 13 digests/event instead of 25)
    //
    // The comparison `value/2³² < t` runs DIRECTLY ON THE HEX: value is
    // an exact 32-bit integer and /2³² is exact in double, so
    // u < t ⟺ value < t·2³² ⟺ hex8 < hex(⌈t·2³²⌉) — fixed-width
    // lowercase hex compares lexicographically as numerically, md5()
    // emits exactly that. This retires the former per-uniform
    // conv(hex,16,10) radix parse + cast + double divide (~5M of each
    // per sf0.1 scan) for one string compare per threshold crossed;
    // multiplicities are bit-identical (BootstrapHexThresholdSpec pins
    // the boundary values of every threshold).
    val thex = t.map { th =>
      val k = (BigDecimal(th) * BigDecimal(2).pow(32))
        .setScale(0, BigDecimal.RoundingMode.CEILING).toBigInt
      f"$k%08x"
    }
    val m = thex.zipWithIndex.foldRight(lit(6): Column) { case ((hx, k), rest) =>
      when(col("u") < hx, k).otherwise(rest)
    }.cast("long")
    Tables.spread(Tables(spark, dir, "events")
        .select(col("event_id"), round(col("value") * 100d).cast("long").as("cents")))
      .select(col("event_id"), col("cents"),
        explode(sequence(lit(0), lit((b + 3) / 4 - 1))).as("j"))
      .withColumn("hex", md5(concat(col("event_id").cast("string"),
        lit("_"), col("j").cast("string")).cast("binary")))
      .select(col("cents"), explode(array((0 until 4).map(r =>
        struct((col("j") * 4 + r).as("b"), substring(col("hex"), 1 + 8 * r, 8).as("u"))): _*)).as("e"))
      .select(col("cents"), col("e.b").as("b"), col("e.u").as("u"))
      .filter(col("b") < b)
      .withColumn("m", m)
      .groupBy(col("b"))
      .agg(sum(col("m")).as("n_eff"), sum(col("m") * col("cents")).as("sum_cents"))
      .select(col("b"), col("n_eff"), col("sum_cents"),
        // ANSI guard: an (astronomically unlikely) all-zero replica must
        // yield NULL, not a division error
        round(when(col("n_eff") > 0,
          col("sum_cents").cast("double") / (col("n_eff").cast("double") * 100d)), 6)
          .as("boot_mean"))
  }

  /** KAPLAN–MEIER SURVIVAL over time-to-first-purchase — the survival-
    * analysis staple (churn curves, time-to-conversion, content
    * half-life): each user contributes one duration from their first
    * event to their first purchase (event) or to their last observed
    * event (right-censored), bucketed to whole hours of integer micros
    * arithmetic. `S(t) = Π_{u≤t} (1 − d_u/n_u)` with the risk set
    * `n_t` = everyone whose duration ≥ t (ties: events and censorings
    * at t both count at risk — the standard convention).
    *
    * Scale shape: the event log collapses to ONE row per user
    * (map-side-combined min/max aggregate), then to one row per
    * distinct duration-hour — a CALENDAR-bounded axis, not a
    * data-bounded one — and the cumulative product folds over that
    * bounded relation in a single ordered pass (the q_ewma typed-fold
    * pattern), multiplying in ascending-time order so the recursive-CTE
    * oracle reproduces the survival doubles BIT-identically.
    */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byTime = survivalTimes(spark, dir)
      .groupBy(col("t"))
      .agg(sum(when(col("ev"), 1L).otherwise(0L)).as("d"), count(lit(1)).as("c"))
      .as[(Long, Long, Long)]
    // single ordered fold over the |distinct hours| relation: risk set
    // decrements by everyone leaving at each time; survival multiplies
    // only at event times (×1.0 elsewhere is an IEEE identity)
    byTime.groupByKey(_ => true)
      .flatMapGroups { (_, it) =>
        val times = it.toIndexedSeq.sortBy(_._1)
        var nRisk = times.map(_._3).sum
        var s = 1.0
        times.iterator.flatMap { case (t, d, c) =>
          val atRisk = nRisk
          nRisk -= c
          if (d > 0) {
            s = s * (1.0 - d.toDouble / atRisk.toDouble)
            Iterator.single((t, atRisk, d, s))
          } else Iterator.empty
        }
      }
      .toDF("t_hours", "n_risk", "d_events", "survival")
  }

  /** CUPED variance-reduced experiment readout (Deng et al. 2013) —
    * the standard pre-experiment covariate adjustment: with x = each
    * user's pre-exposure engagement cents (non-purchase events) and
    * y = their outcome cents (purchases),
    * `y_cuped = y − θ·(x − x̄)` with the POOLED `θ = Cov(x,y)/Var(x)`
    * shrinks arm variance by the squared correlation without biasing
    * the arm difference. Everything reduces to per-arm sufficient
    * statistics (n, Σx, Σy, Σxy, Σx², Σy²) over exact integer cents —
    * one user-level aggregate then a 2-row arm aggregate — so the
    * adjusted means and variances are mirrored double arithmetic on
    * exact DECIMAL sums, and the oracle matches without ever
    * materializing a per-user adjusted column.
    */
  def cupedAdjustment(spark: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    val perUser = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") =!= "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
      .select((pmod(col("user_id"), lit(2)) === 0).as("arm_a"),
        col("x").cast(big).as("x"), col("y").cast(big).as("y"))
    val armAgg = perUser.groupBy(col("arm_a"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val pooled = perUser.agg(count(lit(1)).as("pn"),
      sum(col("x")).as("psx"), sum(col("y")).as("psy"),
      sum(col("x") * col("y")).as("psxy"),
      sum(col("x") * col("x")).as("psxx"))
    val joined = armAgg.crossJoin(broadcast(pooled))
    val theta = (dd(col("pn")) * dd(col("psxy")) - dd(col("psx")) * dd(col("psy"))) /
      (dd(col("pn")) * dd(col("psxx")) - dd(col("psx")) * dd(col("psx")))
    val meanY = dd(col("sy")) / dd(col("n"))
    val meanCuped = meanY - theta * (dd(col("sx")) / dd(col("n")) - dd(col("psx")) / dd(col("pn")))
    val varY = (dd(col("syy")) - dd(col("sy")) * dd(col("sy")) / dd(col("n"))) / (dd(col("n")) - 1)
    val covXY = (dd(col("sxy")) - dd(col("sx")) * dd(col("sy")) / dd(col("n"))) / (dd(col("n")) - 1)
    val varX = (dd(col("sxx")) - dd(col("sx")) * dd(col("sx")) / dd(col("n"))) / (dd(col("n")) - 1)
    val varCuped = varY - lit(2.0) * theta * covXY + theta * theta * varX
    // guards mirror the ANSI contract: a constant pooled covariate has
    // no θ; a single-user arm has no variance
    val ok = (dd(col("pn")) * dd(col("psxx")) - dd(col("psx")) * dd(col("psx"))) > 0 &&
      col("n") > 1
    joined.select(
      col("arm_a"), col("n"),
      round(meanY / 100, 6).as("mean_y"),
      round(when(ok, meanCuped / 100), 6).as("mean_y_cuped"),
      round(when(ok, varY), 6).as("var_y"),
      round(when(ok, varCuped), 6).as("var_y_cuped"),
      round(when(ok && varY > 0, lit(1.0) - varCuped / varY), 6).as("var_reduction"))
  }

  /** ROC AUC by the rank-sum identity — the threshold-free classifier
    * metric, computed WITHOUT sweeping thresholds or sorting pairs:
    * `AUC = U/(n₁·n₀)` with `U = R₁ − n₁(n₁+1)/2` and R₁ the MIDRANK
    * sum of the positives (Mann–Whitney duality; midranks make ties
    * count exactly ½, the standard ROC tie treatment). Here: does the
    * event value rank purchases above non-purchases.
    *
    * Ranks never touch a global window: per-score (pos, total) counts
    * feed the same two-phase sliced prefix sum as the spearman/gini
    * ranks, a tied block contributes `p·(2b+c+1) = 2·Σ midranks` to
    * 2R₁ exactly, and the whole statistic is three integers and ONE
    * mirrored double division.
    */
  def aucValuePurchase(spark: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    val v = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("value").as("s"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val slices = 32
    val hist = v.groupBy(col("s")).agg(sum(col("pos")).as("p"), count(lit(1)).as("c"))
    val bounds = hist.agg(min(col("s")).as("vmin"), max(col("s")).as("vmax"))
    val withPid = hist.crossJoin(broadcast(bounds))
      .withColumn("pid",
        when(col("vmax") === col("vmin"), lit(0)).otherwise(
          least(floor((col("s") - col("vmin")) * slices / (col("vmax") - col("vmin"))),
            lit(slices - 1))).cast("int"))
    val bases = withPid.groupBy(col("pid")).agg(sum(col("c")).as("sc"))
      .withColumn("base", coalesce(sum(col("sc")).over(
        Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("base"))
    val blocks = withPid.join(broadcast(bases), Seq("pid"))
      .withColumn("below", col("base") + coalesce(sum(col("c")).over(
        Window.partitionBy(col("pid")).orderBy(col("s"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    blocks.agg(
        sum(col("p").cast(big) *
          (lit(2L).cast(big) * col("below").cast(big) + col("c").cast(big) + 1)).as("r2"),
        sum(col("p")).as("n1"), sum(col("c")).as("n"))
      .select(col("n1"), (col("n") - col("n1")).as("n0"),
        round(when(col("n1") > 0 && col("n") - col("n1") > 0,
          (dd(col("r2")) - dd(col("n1")) * (dd(col("n1")) + 1)) /
            (lit(2.0) * dd(col("n1")) * dd(col("n") - col("n1")))), 6).as("auc"))
  }

  /** GINI COEFFICIENT of customer spend per nation — the inequality
    * screen (revenue concentration, data-contributor skew, token-budget
    * fairness all reduce to it). Formula on ranked values:
    * `G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx)` with ranks ordered by
    * (spend, custkey).
    *
    * No global-sort rank window: ranks come from the per-(nation, spend)
    * HISTOGRAM via the same two-phase sliced prefix sum as the spearman
    * mid-ranks — a tied block of c customers at spend x with b customers
    * below contributes `x·c·(2b+c+1)` to `2·Σ i·xᵢ` EXACTLY (the
    * consecutive-integer sum), so the whole statistic is assembled from
    * histogram-sized exchanges. Spend is exact whole dollars (floor of
    * the DECIMAL sum); every sum is DECIMAL(38,0); one double division
    * at the end, mirrored in the oracle.
    */
  def giniSpend(spark: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    val spend = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(floor(sum(col("o_totalprice").cast(DecimalType(12, 2)))).cast("long").as("x"))
      .join(broadcast(Tables(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("g"), col("x"))

    // histogram + two-phase below-count (rank2 shape, see spearman)
    val slices = 32
    val hist = spend.groupBy(col("g"), col("x").as("v")).agg(count(lit(1)).as("c"))
    val bounds = hist.groupBy(col("g"))
      .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val withPid = hist.join(broadcast(bounds), Seq("g"))
      .withColumn("pid",
        when(col("vmax") === col("vmin"), lit(0)).otherwise(
          least(floor((col("v") - col("vmin")).cast("double") * slices /
            (col("vmax") - col("vmin")).cast("double")), lit(slices - 1))).cast("int"))
    val bases = withPid.groupBy(col("g"), col("pid")).agg(sum(col("c")).as("sc"))
      .withColumn("base", coalesce(sum(col("sc")).over(
        Window.partitionBy(col("g")).orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("g"), col("pid"), col("base"))
    val blocks = withPid.join(broadcast(bases), Seq("g", "pid"))
      .withColumn("below", col("base") + coalesce(sum(col("c")).over(
        Window.partitionBy(col("g"), col("pid")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))

    blocks.groupBy(col("g"))
      .agg(
        sum(col("c")).as("n"),
        sum(col("v").cast(big) * col("c").cast(big)).as("sx"),
        // Σ x·c·(2b+c+1) = 2·Σ i·xᵢ, exact over tied blocks
        sum(col("v").cast(big) * col("c").cast(big) *
          (lit(2L).cast(big) * col("below").cast(big) + col("c").cast(big) + 1)).as("t2"))
      .select(col("g").as("n_name"), col("n").as("n_customers"),
        col("sx").cast("long").as("total_dollars"),
        round(when(col("sx") > 0,
          (col("t2").cast("double") - (col("n") + 1).cast("double") * col("sx").cast("double")) /
            (col("n").cast("double") * col("sx").cast("double"))), 6).as("gini"))
  }

  /** HOLT–WINTERS additive seasonal smoothing per event type — the
    * triple-exponential member of the forecasting family ([[holtLinear]]
    * is the double): level + trend + a 24-slot HOUR-OF-DAY seasonal
    * state, indexed by calendar slot (`hr % 24`) rather than position
    * so the gapped hourly axis needs no imputation. The spelled-out
    * contract (initial level = first point, trend 0, seasonal slots 0
    * until first touched): per type, one ordered typed fold over the
    * CALENDAR-BOUNDED axis carrying (level, trend, s[24]); the oracle
    * replays it as a recursive CTE carrying a 24-element DOUBLE list —
    * bit-identical because every coefficient (α, 1−α, …) is inlined as
    * its shortest-round-trip literal and the update expressions are
    * mirrored operation-for-operation.
    */
  def holtWinters(spark: SparkSession, dir: String, alpha: Double = 0.5,
      beta: Double = 0.3, gamma: Double = 0.2): DataFrame = {
    import spark.implicits._
    val hourly = hourlyCounts(spark, dir)
      .as[(String, Long, Long)]
    val (a1, b1, g1) = (1 - alpha, 1 - beta, 1 - gamma)
    hourly.groupByKey(_._1).flatMapGroups { (t, it) =>
      val sorted = it.toIndexedSeq.sortBy(_._2)
      val s = Array.fill(24)(0.0)
      var level = 0.0
      var trend = 0.0
      var first = true
      sorted.iterator.map { case (_, hr, n) =>
        val y = n.toDouble
        val slot = (hr % 24).toInt
        if (first) { first = false; level = y; trend = 0.0; s(slot) = 0.0 }
        else {
          val sPrev = s(slot)
          val prev = level
          level = alpha * (y - sPrev) + a1 * (level + trend)
          trend = beta * (level - prev) + b1 * trend
          s(slot) = gamma * (y - level) + g1 * sPrev
        }
        (t, hr, n, level, trend, s(slot))
      }
    }.toDF("event_type", "hr", "n", "level", "trend", "seasonal")
  }

  /** LOG-RANK TEST (Mantel–Cox) — the hypothesis test on top of the
    * [[kaplanMeier]] machinery: do the two experiment arms (user-id
    * parity, the CUPED assignment) share a survival curve? Per user:
    * time-to-first-purchase or censoring hour; per distinct hour: each
    * arm's deaths and departures. Risk sets are SUFFIX sums over the
    * CALENDAR-BOUNDED time axis (a window over |distinct hours| rows —
    * replicas add users, not hours), so no recurrence is needed:
    * `E_A(t) = d·n_A/n` and the hypergeometric variance are per-row
    * expressions from exact integer counts, summed under the house
    * round-9 → DECIMAL-sum → round-6 contract so order cannot change
    * the bits, and the χ² statistic is one final double expression.
    */
  def logRank(spark: SparkSession, dir: String): DataFrame = {
    val perUser = survivalTimes(spark, dir)
      .select(col("t"), col("ev"), (pmod(col("user_id"), lit(2)) === 0).as("arm_a"))
    val byTime = perUser.groupBy(col("t")).agg(
      sum(when(col("ev") && col("arm_a"), 1L).otherwise(0L)).as("da"),
      sum(when(col("ev") && !col("arm_a"), 1L).otherwise(0L)).as("db"),
      sum(when(col("arm_a"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("arm_a"), 1L).otherwise(0L)).as("cb"))
    // suffix risk sets over the bounded time axis (one ordered window
    // over |distinct hours| rows — the q_kaplan_meier cost class)
    val wSuffix = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val terms = byTime
      .withColumn("na", sum(col("ca")).over(wSuffix))
      .withColumn("nb", sum(col("cb")).over(wSuffix))
      .withColumn("d", col("da") + col("db"))
      .withColumn("n", col("na") + col("nb"))
      .filter(col("d") > 0)
      .withColumn("e_a",
        col("d").cast("double") * col("na").cast("double") / col("n").cast("double"))
      .withColumn("v", when(col("n") > 1,
        col("d").cast("double") * col("na").cast("double") * col("nb").cast("double") *
          (col("n") - col("d")).cast("double") /
          (col("n").cast("double") * col("n").cast("double") *
            (col("n") - 1).cast("double"))).otherwise(lit(0.0)))
    terms.agg(
      count(lit(1)).as("n_times"),
      sum(col("da")).as("observed_a"),
      round(sum(round(col("e_a"), 9).cast(DecimalType(38, 9))).cast("double"), 6)
        .as("expected_a"),
      round(sum(round(col("v"), 9).cast(DecimalType(38, 9))).cast("double"), 6)
        .as("variance"))
      .withColumn("chi2", round(
        when(col("variance") > 0,
          (col("observed_a").cast("double") - col("expected_a")) *
            (col("observed_a").cast("double") - col("expected_a")) / col("variance")), 6))
  }

  /** MANN–KENDALL TREND TEST per event type over the hourly count
    * series — the nonparametric "is this metric drifting" check:
    * `S = Σ_{i<j} sign(n_j − n_i)`, tie-corrected variance
    * `[m(m−1)(2m+5) − Σ_g t_g(t_g−1)(2t_g+5)] / 18`, normal
    * approximation z with the ±1 continuity correction. The pair join
    * is WITHIN an event type over the CALENDAR-BOUNDED hour axis
    * (replicas add users, never hours — the [[holtLinear]] scale
    * argument), so pair count is fixed at any corpus size. S, the
    * variance numerator, and the tie table are exact integers; z is
    * one final double expression.
    */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyCounts(spark, dir)
    val a = hourly.select(col("event_type"), col("hr").as("hi"), col("n").as("ni"))
    val b = hourly.select(col("event_type"), col("hr").as("hj"), col("n").as("nj"))
    val s = a.join(b, Seq("event_type"))
      .filter(col("hi") < col("hj"))
      .groupBy(col("event_type"))
      .agg(sum(signum(col("nj") - col("ni")).cast("long")).as("s"))
    val ties = hourly.groupBy(col("event_type"), col("n"))
      .agg(count(lit(1)).as("tg"))
      .groupBy(col("event_type"))
      .agg(sum(col("tg") * (col("tg") - 1) * (lit(2) * col("tg") + 5)).as("tie_term"),
        sum(col("tg")).as("m"))
    s.join(ties, Seq("event_type"))
      .withColumn("var18",
        col("m") * (col("m") - 1) * (lit(2) * col("m") + 5) - col("tie_term"))
      .select(col("event_type"), col("m").as("n_points"), col("s"),
        round(col("var18").cast("double") / 18d, 6).as("var_s"),
        round(when(col("var18") > 0,
          when(col("s") > 0, (col("s") - 1).cast("double"))
            .when(col("s") < 0, (col("s") + 1).cast("double"))
            .otherwise(lit(0.0))
            / sqrt(col("var18").cast("double") / 18d)).otherwise(lit(0.0)), 6)
          .as("z"))
  }

  /** LAGGED CROSS-CORRELATION between the 'view' and 'purchase' hourly
    * series — the lead/lag readout a funnel team reads before fitting
    * anything: at lag L, the Pearson correlation of views at hour t
    * with purchases at hour t+L, over the hours where BOTH exist
    * (inner join; the gapped axis needs no imputation). Per lag,
    * everything reduces to exact integer sufficient sums over the
    * CALENDAR-BOUNDED axis (13 lags × |hours| joined rows — fixed at
    * any corpus size); the correlation is one mirrored double
    * expression with a zero-variance guard.
    */
  def crossCorrelation(spark: SparkSession, dir: String,
      maxLag: Int = 12): DataFrame = {
    val hourly = hourlyCounts(spark, dir)
    val x = hourly.filter(col("event_type") === "view")
      .select(col("hr"), col("n").as("x"))
    val y = hourly.filter(col("event_type") === "purchase")
      .select(col("hr").as("yhr"), col("n").as("y"))
    val lags = spark.range(0, maxLag + 1).select(col("id").as("lag"))
    x.crossJoin(broadcast(lags))
      .join(y, col("yhr") === col("hr") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n_hours"),
        round(when(
          (col("n_hours") * col("sxx") - col("sx") * col("sx")) > 0 &&
            (col("n_hours") * col("syy") - col("sy") * col("sy")) > 0,
          (col("n_hours").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("n_hours").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
              sqrt(col("n_hours").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double")))), 6)
          .as("ccf"))
  }

  /** KENDALL'S τ-b between the 'view' and 'purchase' hourly counts
    * paired by hour — the rank-concordance companion to
    * [[crossCorrelation]]'s Pearson: `S = Σ sign((xᵢ−xⱼ)(yᵢ−yⱼ))` over
    * hour pairs, tie-corrected denominator
    * `√((n₀−n₁)(n₀−n₂))` with n₁/n₂ the per-variable tie-pair counts.
    * Pairs live on the CALENDAR-BOUNDED axis (fixed count at any
    * corpus size); S and the tie table are exact integers, τ is one
    * final double expression.
    */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = hourlyCounts(spark, dir)
    val xy = hourly.filter(col("event_type") === "view")
      .select(col("hr"), col("n").as("x"))
      .join(hourly.filter(col("event_type") === "purchase")
        .select(col("hr"), col("n").as("y")), Seq("hr"))
      .as[(Long, Long, Long)]
    // all-pairs over the paired series as ONE typed fold: the axis is
    // CALENDAR-BOUNDED (hours, not users), so the O(|hours|²) integer
    // loop is a fixed cost at any corpus size — the q_kaplan_meier
    // single-task cost class, and an honest plan (no cartesian shape)
    xy.groupByKey(_ => true).mapGroups { (_, it) =>
      val rows = it.toIndexedSeq.sortBy(_._1)
      var s = 0L; var n1 = 0L; var n2 = 0L
      var i = 0
      while (i < rows.length) {
        var j = i + 1
        while (j < rows.length) {
          val dx = java.lang.Long.signum(rows(j)._2 - rows(i)._2)
          val dy = java.lang.Long.signum(rows(j)._3 - rows(i)._3)
          s += dx.toLong * dy
          if (dx == 0) n1 += 1
          if (dy == 0) n2 += 1
          j += 1
        }
        i += 1
      }
      val n0 = rows.length.toLong * (rows.length - 1) / 2
      val tau =
        if (n0 - n1 > 0 && n0 - n2 > 0)
          s.toDouble / (math.sqrt((n0 - n1).toDouble) * math.sqrt((n0 - n2).toDouble))
        else Double.NaN
      (n0, s, n1, n2, tau)
    }.toDF("n_pairs", "s", "ties_x", "ties_y", "tau_raw")
      .select(col("n_pairs"), col("s"), col("ties_x"), col("ties_y"),
        round(when(!isnan(col("tau_raw")), col("tau_raw")), 6).as("tau_b"))
  }

  /** TWO-PROPORTION Z-TEST on conversion by experiment arm (user-id
    * parity, the CUPED assignment): did arm A's purchase-conversion
    * rate move? Pooled-variance z from four exact integers (per-arm
    * users and converters) — one user-level aggregate, a 2-row arm
    * aggregate, one final double expression with a degenerate-pool
    * guard. The A/B readout every experiment dashboard leads with.
    */
  def twoProportionZ(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .select((pmod(col("user_id"), lit(2)) === 0).as("arm_a"), col("conv"))
    val arms = perUser.groupBy(col("arm_a"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
    val aRow = arms.filter(col("arm_a")).select(col("n").as("na"), col("k").as("ka"))
    val bRow = arms.filter(!col("arm_a")).select(col("n").as("nb"), col("k").as("kb"))
    aRow.crossJoin(bRow)
      .withColumn("pa", col("ka").cast("double") / col("na").cast("double"))
      .withColumn("pb", col("kb").cast("double") / col("nb").cast("double"))
      .withColumn("pp",
        (col("ka") + col("kb")).cast("double") / (col("na") + col("nb")).cast("double"))
      .select(col("na"), col("ka"), col("nb"), col("kb"),
        round(col("pa"), 6).as("rate_a"), round(col("pb"), 6).as("rate_b"),
        round(when(col("pp") > 0 && col("pp") < 1,
          (col("pa") - col("pb")) /
            sqrt(col("pp") * (lit(1.0) - col("pp")) *
              (lit(1.0) / col("na").cast("double") +
                lit(1.0) / col("nb").cast("double")))), 6).as("z"))
  }

  /** THEIL–SEN ROBUST SLOPE per event type — the median of all
    * pairwise slopes of the hourly count series (the outlier-immune
    * alternative to the OLS trend the Holt verbs fit). Same
    * calendar-bounded pair join as [[mannKendall]]; the median is the
    * DETERMINISTIC LOWER median (element ⌈k/2⌉ of the slope list
    * ordered by (slope, hi, hj) — ties broken by the pair's hour
    * coordinates, so both engines pick the identical pair). Each slope
    * is ONE double division of exact integers; no averaging of two
    * middle elements, so no second rounding site.
    */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyCounts(spark, dir)
    val a = hourly.select(col("event_type"), col("hr").as("hi"), col("n").as("ni"))
    val pairs = a.join(
      hourly.select(col("event_type"), col("hr").as("hj"), col("n").as("nj")),
      Seq("event_type"))
      .filter(col("hi") < col("hj"))
      .withColumn("slope",
        (col("nj") - col("ni")).cast("double") / (col("hj") - col("hi")).cast("double"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("slope"), col("hi"), col("hj"))
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("k", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(k + 1) div 2"))
      .select(col("event_type"), col("k").as("n_pairs"),
        round(col("slope"), 6).as("sen_slope"))
  }

  /** ONE-WAY ANOVA F across event types on `value` — "do the k
    * categories differ in mean at all?", the screening question before
    * any pairwise read. Everything reduces to per-group exact decimal
    * sufficient statistics (n, Σv, Σv²) from ONE map-side-combined
    * scan; SSB/SSW assemble from k per-group double terms bridged
    * through the house order-independent channel (round-9 →
    * DECIMAL(38,9) sum → final doubles), so the k-row reduction never
    * depends on engine summation order. The 100 TB shape is the scan —
    * the F arithmetic runs on k ≈ |event types| rows.
    */
  def anovaF(spark: SparkSession, dir: String): DataFrame = {
    val sq = DecimalType(38, 4)
    val g = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).as("s"),
        sum((dec(col("value")) * dec(col("value"))).cast(sq)).as("ss"))
    // per-group double terms, order-independent via the decimal bridge
    val terms = g.select(
      col("n"), col("s"), col("ss"),
      round(dd(col("s")) * dd(col("s")) / dd(col("n")), 9).cast(b9).as("g2n"),
      round(dd(col("ss")) - dd(col("s")) * dd(col("s")) / dd(col("n")), 9).cast(b9).as("w"))
    val agg = terms.agg(
      count(lit(1)).as("k"), sum(col("n")).as("n_total"),
      sum(col("s")).as("s_all"), sum(col("g2n")).as("sum_g2n"),
      sum(col("w")).as("ssw9"))
    val ssb = dd(col("sum_g2n")) - dd(col("s_all")) * dd(col("s_all")) / dd(col("n_total"))
    val ssw = dd(col("ssw9"))
    val f = (ssb / (dd(col("k")) - 1.0)) / (ssw / (dd(col("n_total")) - dd(col("k"))))
    agg.select(
      col("k").cast("int").as("k_groups"), col("n_total"),
      round(ssb, 6).as("ss_between"), round(ssw, 6).as("ss_within"),
      round(when(col("k") > 1 && col("n_total") > col("k") && ssw > 0, f), 6)
        .as("f_stat"),
      round(when(ssb + ssw > 0, ssb / (ssb + ssw)), 6).as("eta_sq"))
  }

  /** TUKEY HSD pairwise readout — the post-hoc companion of [[anovaF]]:
    * for every unordered pair of event types, the studentized-range
    * statistic `q = |m_i − m_j| / sqrt(MSW/2 · (1/n_i + 1/n_j))` from
    * the SAME per-group sufficient statistics (critical values are a
    * table lookup the caller applies; the statistic is the operator).
    * The pair relation is |types|² — a broadcast self-join over k rows;
    * corpus cost is the one shared scan.
    */
  def tukeyHsd(spark: SparkSession, dir: String): DataFrame = {
    val sq = DecimalType(38, 4)
    val g = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).as("s"),
        sum((dec(col("value")) * dec(col("value"))).cast(sq)).as("ss"))
    val msw = g.select(
      round(dd(col("ss")) - dd(col("s")) * dd(col("s")) / dd(col("n")), 9).cast(b9).as("w"),
      col("n"))
      .agg(sum(col("w")).as("ssw9"), sum(col("n")).as("n_total"),
        count(lit(1)).as("k"))
      .select((dd(col("ssw9")) / (dd(col("n_total")) - dd(col("k")))).as("msw"),
        col("n_total"), col("k"))
    val a = g.select(col("event_type").as("type_a"), col("n").as("na"), col("s").as("sa"))
    val b = g.select(col("event_type").as("type_b"), col("n").as("nb"), col("s").as("sb"))
    a.join(b, col("type_a") < col("type_b"))
      .crossJoin(broadcast(msw))
      .select(col("type_a"), col("type_b"), col("na"), col("nb"),
        round(dd(col("sa")) / dd(col("na")) - dd(col("sb")) / dd(col("nb")), 6)
          .as("mean_diff"),
        round(when(col("msw") > 0,
          abs(dd(col("sa")) / dd(col("na")) - dd(col("sb")) / dd(col("nb"))) /
            sqrt(col("msw") / lit(2.0) *
              (lit(1.0) / dd(col("na")) + lit(1.0) / dd(col("nb"))))), 6)
          .as("q_stat"))
  }

  /** WILSON SCORE INTERVAL per event type — the binomial CI that stays
    * inside [0,1] and behaves at small n / extreme rates (the interval
    * every reporting layer should use instead of the Wald ±z√(pq/n)):
    * with p̂ = k/n users reached,
    * `(p̂ + z²/2n ± z·sqrt(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)`.
    * Two distinct-user passes produce the exact integers; the interval
    * is pure mirrored double arithmetic (z = Φ⁻¹(0.975) inlined as the
    * shortest-round-trip literal — no transcendental at query time).
    */
  def wilsonCi(spark: SparkSession, dir: String): DataFrame = {
    val z = lit(1.959963984540054) // qnorm(0.975), inlined constant
    val ev = Tables(spark, dir, "events")
    val n = ev.agg(countDistinct(col("user_id")).as("n"))
    val k = ev.select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("k"))
    k.crossJoin(broadcast(n))
      .withColumn("p", dd(col("k")) / dd(col("n")))
      .withColumn("den", lit(1.0) + z * z / dd(col("n")))
      .withColumn("ctr", (col("p") + z * z / (lit(2.0) * dd(col("n")))) / col("den"))
      .withColumn("half",
        z * sqrt(col("p") * (lit(1.0) - col("p")) / dd(col("n")) +
          z * z / (lit(4.0) * dd(col("n")) * dd(col("n")))) / col("den"))
      .select(col("event_type"), col("k").as("k_users"), col("n").as("n_users"),
        round(col("p"), 6).as("rate"),
        round(col("ctr") - col("half"), 6).as("wilson_lo"),
        round(col("ctr") + col("half"), 6).as("wilson_hi"))
  }

  /** COCHRAN–ARMITAGE TREND TEST — "does conversion rate rise with
    * exposure?": users bucket into ordered activity doses by integer
    * THRESHOLDS on their event count (1, 2–3, 4–7, 8–15, 16–31, 32+ —
    * pure integer comparisons, no transcendental bucketing), the
    * response is has-any-purchase, and the trend statistic is
    * `z = (A − (R/N)·B) / sqrt((R/N)(1−R/N)(C − B²/N))` with the three
    * integer moments A=Σsᵢrᵢ, B=Σsᵢnᵢ, C=Σsᵢ²nᵢ over ≤6 dose rows.
    * One user-level aggregate → 6-row table → exact integers → one
    * guarded double expression. The scan is the cost at any scale.
    */
  def cochranArmitage(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .withColumn("dose",
        when(col("cnt") >= 32, 5L).when(col("cnt") >= 16, 4L)
          .when(col("cnt") >= 8, 3L).when(col("cnt") >= 4, 2L)
          .when(col("cnt") >= 2, 1L).otherwise(0L))
    val byDose = perUser.groupBy(col("dose"))
      .agg(count(lit(1)).as("n_i"), sum(col("conv")).as("r_i"))
    val m = byDose.agg(
      sum(col("n_i")).as("n"), sum(col("r_i")).as("r"),
      sum(col("dose") * col("r_i")).as("a"),
      sum(col("dose") * col("n_i")).as("b"),
      sum(col("dose") * col("dose") * col("n_i")).as("c"))
    val p = dd(col("r")) / dd(col("n"))
    val num = dd(col("a")) - p * dd(col("b"))
    val v = p * (lit(1.0) - p) * (dd(col("c")) - dd(col("b")) * dd(col("b")) / dd(col("n")))
    m.select(col("n").as("n_users"), col("r").as("n_converted"),
      col("a"), col("b"), col("c"),
      round(when(v > 0, num / sqrt(v)), 6).as("z_trend"))
  }

  /** MEDIAN/MAD ROBUST OUTLIER SCREEN per event type — the
    * outlier detector that survives its own outliers (a z-score's mean
    * and σ are dragged by the very points it should flag; the median
    * and the Median Absolute Deviation have 50% breakdown): flag
    * `|v − med| > 3 · 1.4826 · MAD` (1.4826 = 1/Φ⁻¹(0.75), the
    * consistency constant making MAD estimate σ under normality —
    * Hampel 1974). BOTH medians are EXACT integer-cents order
    * statistics selected from per-(type, value) histograms — the
    * spearman/time_to_convert pattern: the cumulative window runs over
    * the DOMAIN-bounded histogram relation (distinct cents per type),
    * never over rows, and the lower-median rule `k = (n+1) div 2`
    * needs no averaging site. The flag comparison is integer-vs-one-
    * mirrored-double — no rounding ambiguity at the boundary.
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    // lower median of `valueCol` per type via histogram + cumulative
    // count: the first domain value whose running count reaches k
    def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val hist = df.groupBy(col("event_type"), col(valueCol))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col(valueCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = df.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      hist.withColumn("cum", sum(col("c")).over(w))
        .join(broadcast(tot), Seq("event_type"))
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .groupBy(col("event_type"), col("n"))
        .agg(min(col(valueCol)).as(out))
    }
    val med = lowerMedian(ev, "cents", "med_cents")
    val dev = ev
      .join(broadcast(med.select(col("event_type"), col("med_cents"))), Seq("event_type"))
      .select(col("event_type"), abs(col("cents") - col("med_cents")).as("dev"))
    val mad = lowerMedian(dev, "dev", "mad_cents").drop("n")
    val stats = med.join(mad, Seq("event_type"))
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("is_out",
        abs(col("cents") - col("med_cents")).cast("double") >
          lit(3.0) * lit(1.4826) * col("mad_cents").cast("double"))
      .groupBy(col("event_type"), col("n"), col("med_cents"), col("mad_cents"))
      .agg(sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n"), col("med_cents"), col("mad_cents"),
        col("n_outliers"),
        round(col("n_outliers").cast("double") / col("n").cast("double"), 6)
          .as("outlier_rate"))
  }

  /** NELSON–AALEN CUMULATIVE HAZARD — the estimator-of-record for the
    * hazard integral (and the robust-at-small-risk-set companion of
    * [[kaplanMeier]], whose fixture semantics it shares verbatim:
    * time-to-first-purchase in whole hours, right-censored at last
    * activity): `H(t) = Σ_{u≤t} d_u/n_u`, with Aalen's variance
    * `Σ d_u/n_u²`. Same scale shape as KM — the log collapses to one
    * row per user, then to the CALENDAR-bounded duration axis, and the
    * cumulative sums fold over that bounded relation in one ordered
    * typed pass, add-for-add replayable by a recursive-CTE oracle
    * (BIT-identical doubles, the q_ewma contract).
    */
  def nelsonAalen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byTime = survivalTimes(spark, dir)
      .groupBy(col("t"))
      .agg(sum(when(col("ev"), 1L).otherwise(0L)).as("d"), count(lit(1)).as("c"))
      .as[(Long, Long, Long)]
    byTime.groupByKey(_ => true)
      .flatMapGroups { (_, it) =>
        val times = it.toIndexedSeq.sortBy(_._1)
        var nRisk = times.map(_._3).sum
        var h = 0.0
        var vh = 0.0
        times.iterator.flatMap { case (t, d, c) =>
          val atRisk = nRisk
          nRisk -= c
          if (d > 0) {
            val ar = atRisk.toDouble
            h = h + d.toDouble / ar
            vh = vh + d.toDouble / (ar * ar)
            Iterator.single((t, atRisk, d, h, vh))
          } else Iterator.empty
        }
      }
      .toDF("t_hours", "n_risk", "d_events", "cum_hazard", "var_hazard")
  }

  /** WILCOXON SIGNED-RANK TEST (Wilcoxon 1945) — the paired
    * nonparametric: did per-user activity SHIFT between the first and
    * second half of the observation window? Each user contributes one
    * INTEGER difference d = n₂ − n₁ (event counts after/before the
    * midpoint timestamp); zeros drop (the standard Wilcoxon zero
    * procedure), |d| ranks with midrank ties, W⁺ = Σ ranks of positive
    * d, and z = (W⁺ − μ)/σ with the tie-corrected variance
    * σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48 (no continuity correction —
    * documented, mirrored). Two-sided p via the house A&S 26.2.17 tail.
    *
    * EXACTNESS: ranks never touch doubles — the midrank lives in
    * 2×-rank units (2·cum_prev + c + 1, an integer), so W⁺×2 is an
    * exact BIGINT and every statistic assembles from integers with
    * the double arithmetic mirrored operation-for-operation.
    *
    * THE 100 TB SHAPE: one scan → per-user (n₁, n₂) groupBy → the
    * rank window runs over the |distinct |d|| histogram relation
    * (domain-bounded: ≤ max per-user activity), never over users.
    */
  def wilcoxonSignedRank(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.raw(spark, dir, "events")
    val us = Tables.micros(raw)
    val ev = raw.select(col("user_id"), us.as("us"))
    val mid = ev.agg(((min(col("us")) + max(col("us"))) / lit(2L)).cast("long").as("t_mid"))
    val d = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg((sum(when(col("us") > col("t_mid"), 1L).otherwise(0L)) -
        sum(when(col("us") <= col("t_mid"), 1L).otherwise(0L))).as("d"))
      .filter(col("d") =!= 0)
    // |d| histogram: c rows at this |d|, cpos of them positive
    val hist = d.groupBy(abs(col("d")).as("ad"))
      .agg(count(lit(1)).as("c"), sum(when(col("d") > 0, 1L).otherwise(0L)).as("cpos"))
    val w = Window.orderBy(col("ad"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = hist
      .withColumn("r2", lit(2L) * coalesce(sum(col("c")).over(w), lit(0L)) + col("c") + 1L)
      .agg(sum(col("c")).as("n"),
        sum(col("cpos") * col("r2")).as("wp2"),
        sum(col("c") * col("c") * col("c") - col("c")).as("ties3"))
    val n = dd(col("n"))
    val mu = n * (n + lit(1.0)) / lit(4.0)
    val v = n * (n + lit(1.0)) * (lit(2.0) * n + lit(1.0)) / lit(24.0) -
      dd(col("ties3")) / lit(48.0)
    val z = (dd(col("wp2")) / lit(2.0) - mu) / sqrt(v)
    agg
      .withColumn("z0", when(col("n") > 0 && v > 0, z))
      .withColumn("az", abs(col("z0")))
      .withColumn("t", lit(1.0) / (lit(1.0) + lit(0.2316419) * col("az")))
      .select(col("n").as("n_pairs"),
        (dd(col("wp2")) / lit(2.0)).as("w_plus"),
        round(col("z0"), 6).as("z"),
        round(when(col("az").isNotNull,
          lit(2.0) * (exp(-(col("az") * col("az")) / lit(2.0)) / lit(2.5066282746310002) *
            (col("t") * (lit(0.319381530) + col("t") * (lit(-0.356563782) +
              col("t") * (lit(1.781477937) + col("t") * (lit(-1.821255978) +
                col("t") * lit(1.330274429)))))))), 6).as("p_value"))
  }

  /** MCNEMAR'S TEST (McNemar 1947, continuity-corrected) — the paired
    * BINARY companion of [[wilcoxonSignedRank]]: did users who
    * purchased in the FIRST week keep purchasing in the LAST week?
    * Per user two booleans (any `purchase` in days [0,7) / days
    * [23,∞) of the window, day = µs DIV 86400000000 from the global
    * min — pure integer calendar); only the discordant cells carry
    * signal: χ² = (|b−c|−1)²/(b+c), p = 2·Φtail(√χ²) (the 1-df χ²
    * survival in terms of the house normal tail).
    *
    * THE 100 TB SHAPE: one scan → per-user two MAX flags → four
    * integer cells; everything after runs on one row.
    */
  def mcnemar(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.raw(spark, dir, "events")
    val us = Tables.micros(raw)
    val day = lit(86400000000L)
    val ev = raw.select(col("user_id"), col("event_type"), us.as("us"))
    val d0 = ev.agg((min(col("us")) - pmod(min(col("us")), day)).as("t0"))
    val flags = ev.crossJoin(broadcast(d0))
      .withColumn("di", expr("(us - t0) div 86400000000"))
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("di") < 7, 1L)
          .otherwise(0L)).as("early"),
        max(when(col("event_type") === "purchase" && col("di") >= 23, 1L)
          .otherwise(0L)).as("late"))
    val cells = flags.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("early") === 1 && col("late") === 1, 1L).otherwise(0L)).as("n_both"),
      sum(when(col("early") === 0 && col("late") === 0, 1L).otherwise(0L)).as("n_neither"),
      sum(when(col("early") === 1 && col("late") === 0, 1L).otherwise(0L)).as("b_disc"),
      sum(when(col("early") === 0 && col("late") === 1, 1L).otherwise(0L)).as("c_disc"))
    val bc = col("b_disc") + col("c_disc")
    val num = abs(col("b_disc") - col("c_disc")).cast("double") - lit(1.0)
    val chi = (num * num) / dd(bc)
    cells
      .withColumn("chi2", when(bc > 0, chi))
      .withColumn("az", sqrt(col("chi2")))
      .withColumn("t", lit(1.0) / (lit(1.0) + lit(0.2316419) * col("az")))
      .select(col("n_users"), col("n_both"), col("n_neither"),
        col("b_disc"), col("c_disc"),
        round(col("chi2"), 6).as("mcnemar_chi2"),
        round(when(col("az").isNotNull,
          lit(2.0) * (exp(-(col("az") * col("az")) / lit(2.0)) / lit(2.5066282746310002) *
            (col("t") * (lit(0.319381530) + col("t") * (lit(-0.356563782) +
              col("t") * (lit(1.781477937) + col("t") * (lit(-1.821255978) +
                col("t") * lit(1.330274429)))))))), 6).as("p_value"))
  }

  /** BINARY-SEGMENTATION CHANGEPOINT (the first split of binary
    * segmentation, Scott & Knott 1974 lineage): WHERE did the hourly
    * mean value shift most? For every prefix boundary t on the hourly
    * axis, the between-segment sum-of-squares gain
    * `s₁²/n₁ + s₂²/n₂ − S²/N` (the variance-reduction objective CUSUM
    * only thresholds); the argmax hour is the changepoint estimate,
    * tie-broken earliest. The companion readout to [[cusumShifts]]:
    * that one says WHETHER the level drifted, this one says WHEN.
    *
    * EXACTNESS: hourly (n, Σcents) are integers; prefix sums ride an
    * integer window; the gain assembles from integers with one
    * mirrored double expression per boundary row.
    *
    * THE 100 TB SHAPE: one scan → CALENDAR-BOUNDED hourly rows; the
    * prefix window and argmax run over that bounded axis, never rows.
    */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.raw(spark, dir, "events")
    val hourly = raw.filter(col("value").isNotNull)
      .select(Tables.microsDiv(raw, 3600000000L).as("hr"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("hr"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    val tot = hourly.agg(sum(col("n")).as("nt"), sum(col("s")).as("st"))
    val w = Window.orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gains = hourly
      .withColumn("n1", sum(col("n")).over(w))
      .withColumn("s1", sum(col("s")).over(w))
      .crossJoin(broadcast(tot))
      .filter(col("n1") < col("nt"))
      .withColumn("gain",
        dd(col("s1")) * dd(col("s1")) / dd(col("n1")) +
          dd(col("st") - col("s1")) * dd(col("st") - col("s1")) / dd(col("nt") - col("n1")) -
          dd(col("st")) * dd(col("st")) / dd(col("nt")))
    gains
      .withColumn("rn", row_number().over(
        Window.orderBy(col("gain").desc, col("hr").asc)))
      .filter(col("rn") === 1)
      .select(col("hr").as("split_hr"),
        col("n1").as("n_before"), (col("nt") - col("n1")).as("n_after"),
        round(dd(col("s1")) / dd(col("n1")), 6).as("mean_before_cents"),
        round(dd(col("st") - col("s1")) / dd(col("nt") - col("n1")), 6)
          .as("mean_after_cents"),
        round(col("gain"), 6).as("ss_gain"))
  }

  /** EFFECT SIZE + MDE per event type — the experiment-design readout
    * every A/B platform pairs with its p-values: Cohen's d between the
    * even/odd-user arms (the [[bhFdr]] arm convention) with pooled SD,
    * plus the relative Minimum Detectable Effect the CURRENT sample
    * supports at α=0.05 two-sided / 80% power:
    * `MDE = (z_{α/2}+z_β)·σ_pooled·√(1/n_a+1/n_b) / mean` — Φ⁻¹
    * constants inlined as shortest-round-trip literals (1.9599639845,
    * 0.8416212336). "This metric can detect a 3% move; the 0.4% delta
    * you're staring at is noise" — the sample-size sanity check.
    *
    * EXACTNESS: per-arm (n, Σ, Σ²) in exact integer cents / DECIMAL;
    * every derived double mirrored op-for-op.
    */
  def effectSize(spark: SparkSession, dir: String): DataFrame = {
    val sq = DecimalType(38, 0)
    val ev = Tables(spark, dir, "events").filter(col("value").isNotNull)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        (pmod(col("user_id"), lit(2)) === 0).as("arm_a"))
    val g = ev.groupBy(col("event_type"))
      .agg(
        sum(when(col("arm_a"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("arm_a"), 1L).otherwise(0L)).as("nb"),
        sum(when(col("arm_a"), col("cents")).otherwise(0L)).as("sa"),
        sum(when(!col("arm_a"), col("cents")).otherwise(0L)).as("sb"),
        sum(when(col("arm_a"), col("cents").cast(sq) * col("cents").cast(sq))
          .otherwise(lit(0).cast(sq))).as("ssa"),
        sum(when(!col("arm_a"), col("cents").cast(sq) * col("cents").cast(sq))
          .otherwise(lit(0).cast(sq))).as("ssb"))
    val ma = dd(col("sa")) / dd(col("na"))
    val mb = dd(col("sb")) / dd(col("nb"))
    val va = dd(col("ssa")) - dd(col("sa")) * dd(col("sa")) / dd(col("na"))
    val vb = dd(col("ssb")) - dd(col("sb")) * dd(col("sb")) / dd(col("nb"))
    val sp = sqrt(greatest((va + vb) / (dd(col("na")) + dd(col("nb")) - 2.0), lit(0.0)))
    val d = (ma - mb) / sp
    // 1.9599639845 + 0.8416212336, pre-summed as ONE literal so both
    // engines parse the identical double (a runtime sum could differ
    // in the last ulp from the decimal-string parse)
    val mde = lit(2.8015852181) * sp *
      sqrt(lit(1.0) / dd(col("na")) + lit(1.0) / dd(col("nb")))
    val pooledMean = (dd(col("sa")) + dd(col("sb"))) / (dd(col("na")) + dd(col("nb")))
    g.filter(col("na") > 1 && col("nb") > 1)
      .select(col("event_type"), col("na"), col("nb"),
        round(ma, 6).as("mean_a_cents"), round(mb, 6).as("mean_b_cents"),
        round(sp, 6).as("pooled_sd"),
        round(when(sp > 0, d), 6).as("cohens_d"),
        round(when(sp > 0 && pooledMean > 0, mde / pooledMean), 6).as("mde_rel"))
  }

  /** BURSTINESS INDEX per event type (Goh & Barabási 2008,
    * "Burstiness and memory in complex systems"): B = (σ−μ)/(σ+μ)
    * over the inter-event gaps — B→−1 periodic, 0 Poisson, →1 bursty.
    * THE arrival-process readout behind rate limiting, anomaly
    * baselines, and session design; gaps are PER USER within a type
    * (a global gap stream would measure user interleaving, not
    * behavior), in integer seconds from the µs total order.
    *
    * EXACTNESS: gaps are integers; Σg rides a BIGINT, Σg² a
    * DECIMAL(19,0)² product sum; μ/σ/CV/B assemble from the three
    * exact stats with the double expression mirrored op-for-op.
    *
    * THE 100 TB SHAPE: the lag window partitions by (user, type) —
    * millions of small partitions, never a per-type funnel; the
    * statistics are a map-side-combined groupBy.
    */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val d19 = DecimalType(19, 0)
    val raw = Tables.raw(spark, dir, "events")
    val ev = raw.select(col("user_id"), col("event_type"),
      Tables.micros(raw).as("us"), col("event_id"))
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    val gaps = ev.withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), expr("(us - prev) div 1000000").as("g"))
    val stats = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("g")).as("s"),
        sum(col("g").cast(d19) * col("g").cast(d19)).as("ss"))
    val mean = dd(col("s")) / dd(col("n"))
    val v = (dd(col("ss")) - dd(col("s")) * dd(col("s")) / dd(col("n"))) /
      (dd(col("n")) - 1.0)
    val sd = sqrt(greatest(v, lit(0.0)))
    stats.filter(col("n") > 1)
      .select(col("event_type"), col("n").as("n_gaps"),
        round(mean, 6).as("mean_gap_s"),
        round(when(mean > 0, sd / mean), 6).as("cv"),
        round(when(sd + mean > 0, (sd - mean) / (sd + mean)), 6).as("burstiness"))
  }

  /** BROWN–FORSYTHE TEST (Brown & Forsythe 1974) — variance
    * homogeneity across event types, the assumption check behind
    * [[anovaF]]/[[tukeyHsd]] that stays robust under non-normality
    * because it centers on the MEDIAN: z_ij = |x_ij − med_j| with
    * med_j the exact per-type lower median in integer cents (the
    * [[madOutliers]] histogram selection verbatim), then the one-way
    * F statistic ON the z values. Since med_j and every z are
    * integers, the sufficient statistics (n, Σz, Σz²) are exact
    * BIGINTs and the F assembly reuses [[anovaF]]'s decimal-bridged
    * per-group terms — order-independent on both engines.
    */
  def brownForsythe(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    val hist = ev.groupBy(col("event_type"), col("cents")).agg(count(lit(1)).as("c"))
    val wm = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val med = hist.withColumn("cum", sum(col("c")).over(wm))
      .join(broadcast(tot), Seq("event_type"))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("event_type"))
      .agg(min(col("cents")).as("med_cents"))
    val g = ev.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), abs(col("cents") - col("med_cents")).as("z"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("z")).as("s"),
        sum(col("z") * col("z")).as("ss"))
    val terms = g.select(col("n"), col("s"),
      round(dd(col("s")) * dd(col("s")) / dd(col("n")), 9).cast(b9).as("g2n"),
      round(dd(col("ss")) - dd(col("s")) * dd(col("s")) / dd(col("n")), 9).cast(b9).as("w"))
    val agg = terms.agg(count(lit(1)).as("k"), sum(col("n")).as("n_total"),
      sum(col("s")).as("s_all"), sum(col("g2n")).as("sum_g2n"),
      sum(col("w")).as("ssw9"))
    val ssb = dd(col("sum_g2n")) - dd(col("s_all")) * dd(col("s_all")) / dd(col("n_total"))
    val ssw = dd(col("ssw9"))
    val f = (ssb / (dd(col("k")) - 1.0)) / (ssw / (dd(col("n_total")) - dd(col("k"))))
    agg.select(col("k").cast("int").as("k_groups"), col("n_total"),
      round(ssb, 6).as("ss_between"), round(ssw, 6).as("ss_within"),
      round(when(col("k") > 1 && col("n_total") > col("k") && ssw > 0, f), 6)
        .as("bf_stat"))
  }

  /** DURBIN–WATSON on the residuals of an hourly-count OLS trend, per
    * event type — "is what the trend line leaves behind serially
    * correlated?", the companion diagnostic to [[ljungBox]] (which reads
    * the Holt forecast's residuals; this one reads the OLS fit the
    * Theil–Sen slope robustifies). DW = Σ(e_t − e_{t−1})² / Σe_t² ∈
    * [0, 4], 2 = no autocorrelation.
    *
    * Exactness: the series axis is CALENDAR-BOUNDED hourly counts; the
    * OLS normal equations run on exact BIGINT sums of the REBASED hour
    * index (x = hr − min hr, so Σx² stays far inside long range at any
    * corpus age); slope/intercept are one fixed-order double expression;
    * each residual is one double; and the two quadratic sums bridge
    * through the house round-9 → DECIMAL(38,9) channel so neither
    * engine's summation order matters. The corpus-scale cost is the one
    * map-side-combined hourly aggregate — everything after runs on
    * |types × hours| rows.
    */
  def durbinWatson(spark: SparkSession, dir: String): DataFrame = {
    // the hourly relation feeds THREE consumers (rebase bounds, the OLS
    // fit, the residual pass) — materialize the |types × hours| rows
    // once so the corpus pays ONE scan, not three (pagerank's
    // localCheckpoint precedent; the relation is calendar-bounded)
    val hourly = hourlyCounts(spark, dir)
      .localCheckpoint()
    val base = hourly.groupBy(col("event_type")).agg(min(col("hr")).as("hr0"))
    val xy = hourly.join(broadcast(base), Seq("event_type"))
      .select(col("event_type"), col("hr"),
        (col("hr") - col("hr0")).as("x"), col("n").as("y"))
    val fit = xy.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      .withColumn("den",
        dd(col("cnt")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx")))
      .withColumn("b", when(col("den") > 0,
        (dd(col("cnt")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))) / col("den")))
      .withColumn("a", (dd(col("sy")) - col("b") * dd(col("sx"))) / dd(col("cnt")))
      .select(col("event_type"), col("cnt"), col("a"), col("b"))
    val resid = xy.join(broadcast(fit), Seq("event_type"))
      .withColumn("e", dd(col("y")) - (col("a") + col("b") * dd(col("x"))))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    resid
      .withColumn("ep", lag(col("e"), 1).over(w))
      .select(col("event_type"), col("cnt"),
        round(col("e") * col("e"), 9).cast(b9).as("e2"),
        when(col("ep").isNotNull,
          round((col("e") - col("ep")) * (col("e") - col("ep")), 9).cast(b9))
          .as("d2"))
      .groupBy(col("event_type"))
      .agg(max(col("cnt")).as("n_hours"),
        sum(col("e2")).as("se2"), sum(col("d2")).as("sd2"))
      .select(col("event_type"), col("n_hours"),
        round(when(dd(col("se2")) > 0, dd(col("sd2")) / dd(col("se2"))), 6)
          .as("dw"))
  }

  /** MUTUAL INFORMATION between a document's language and its source —
    * "does the source distribution leak the language?" (the dependence
    * screen behind every stratified mixture decision; the continuous
    * counterpart of [[q_cramers_v]]'s effect size). Reports MI in nats
    * and the normalized MI / sqrt(H(lang)·H(source)).
    *
    * One |langs × sources| contingency aggregate is the only corpus
    * pass; marginals and the three entropy/MI sums run on the tiny grid
    * with every ln term rounded to 9 dp and summed as DECIMAL(38,9) —
    * the order-independent bridge [[anovaF]] established. Cells, not
    * rows, pay the transcendental.
    */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val grid = Tables(spark, dir, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
    val lx = grid.groupBy(col("lang")).agg(sum(col("c")).as("cx"))
    val sy = grid.groupBy(col("source")).agg(sum(col("c")).as("cy"))
    val nr = grid.agg(sum(col("c")).as("n"), count(lit(1)).as("n_cells"))
    val mi = grid.join(broadcast(lx), Seq("lang")).join(broadcast(sy), Seq("source"))
      .crossJoin(broadcast(nr))
      .select(round((dd(col("c")) / dd(col("n"))) *
        log(dd(col("c")) * dd(col("n")) / (dd(col("cx")) * dd(col("cy")))), 9)
        .cast(b9).as("t"))
      .agg(sum(col("t")).as("mi9"))
    def entropy(m: DataFrame, cnt: String): DataFrame = m
      .crossJoin(broadcast(nr.select(col("n"))))
      .select(round((dd(col(cnt)) / dd(col("n"))) * lit(-1.0) *
        log(dd(col(cnt)) / dd(col("n"))), 9).cast(b9).as("t"))
      .agg(sum(col("t")).as("h9"))
    val hx = entropy(lx, "cx").select(col("h9").as("hx9"))
    val hy = entropy(sy, "cy").select(col("h9").as("hy9"))
    nr.crossJoin(broadcast(mi)).crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .select(col("n"), col("n_cells"),
        round(dd(col("mi9")), 6).as("mi_nats"),
        round(dd(col("hx9")), 6).as("h_lang"),
        round(dd(col("hy9")), 6).as("h_source"),
        round(when(dd(col("hx9")) > 0 && dd(col("hy9")) > 0,
          dd(col("mi9")) / (sqrt(dd(col("hx9"))) * sqrt(dd(col("hy9"))))), 6)
          .as("nmi"))
  }

  /** WEIGHT OF EVIDENCE + INFORMATION VALUE of the hour-of-day slot
    * against the purchase outcome — the credit-scoring encoding every
    * risk/churn feature pipeline tabulates before binning a feature:
    * per bucket WoE = ln((good_i/G)/(bad_i/B)) and the feature-level
    * IV = Σ(good_i/G − bad_i/B)·WoE_i. Buckets are six 4-hour
    * day-slots (pure integer arithmetic on the µs epoch — no
    * transcendental bucketing, no timezone surface); good = purchase
    * events, bad = everything else, both exact integers from ONE
    * map-side-combined scan; the IV sum runs over 6 decimal-bridged
    * terms. Guarded: a bucket with zero goods or zero bads has
    * undefined WoE and contributes NULL (standard practice is to
    * re-bin; the readout makes that visible instead of fabricating a
    * smoothed value).
    */
  def woeIv(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.raw(spark, dir, "events")
    val buckets = raw
      .select(
        call_function("div", pmod(Tables.microsDiv(raw, 3600000000L), lit(24)), lit(4))
          .as("slot"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("good"))
      .groupBy(col("slot"))
      .agg(count(lit(1)).as("n"), sum(col("good")).as("goods"))
      .withColumn("bads", col("n") - col("goods"))
    val tot = buckets.agg(sum(col("goods")).as("gt"), sum(col("bads")).as("bt"))
    val woe = buckets.crossJoin(broadcast(tot))
      .withColumn("woe_raw",
        when(col("goods") > 0 && col("bads") > 0 && col("gt") > 0 && col("bt") > 0,
          log((dd(col("goods")) / dd(col("gt"))) / (dd(col("bads")) / dd(col("bt"))))))
      .withColumn("iv_term",
        when(col("woe_raw").isNotNull,
          round((dd(col("goods")) / dd(col("gt")) - dd(col("bads")) / dd(col("bt"))) *
            col("woe_raw"), 9).cast(b9)))
    val iv = woe.agg(sum(col("iv_term")).as("iv9"))
    woe.crossJoin(broadcast(iv))
      .select(col("slot"), col("n").as("n_events"), col("goods"), col("bads"),
        round(col("woe_raw"), 6).as("woe"),
        round(dd(col("iv9")), 6).as("iv_total"))
  }

  /** FRIEDMAN TEST — the nonparametric repeated-measures ANOVA: do the
    * k event types differ in typical per-user value once each user is
    * their own control? Blocks = users observed under ALL k treatments
    * (complete blocks only, the classical design), the response is the
    * user×type mean value, ranks are within-block MIDRANKS (average rank
    * under ties, kept integer-exact by the doubled form 2·rank+cnt−1),
    * and χ²_F = 12/(bk(k+1))·ΣR_j² − 3b(k+1) with df = k−1.
    *
    * Per-block work is a k-row window (k = |event types|, a constant);
    * the column sums ΣR_j are exact BIGINTs of doubled midranks; the
    * k-term ΣR_j² bridges through round-9 decimals. The p-value uses the
    * closed-form even-df chi-square survival e^{−x/2}(1 + x/2) — exact
    * for df=4, emitted only when the data's k makes that df apply (the
    * [[ljungBox]] contract: closed forms over special-function
    * approximations, NULL over a silently wrong formula).
    */
  def friedmanTest(spark: SparkSession, dir: String): DataFrame = {
    val cell = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("s"))
      .withColumn("m", dd(col("s")) / dd(col("n")))
    val k = cell.agg(countDistinct(col("event_type")).as("k"))
    val complete = cell
      .withColumn("nt", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .crossJoin(broadcast(k))
      .filter(col("nt") === col("k"))
    val wr = Window.partitionBy(col("user_id")).orderBy(col("m"))
    val wt = Window.partitionBy(col("user_id"), col("m"))
    val ranked = complete
      .withColumn("r2", lit(2L) * rank().over(wr) + count(lit(1)).over(wt) - 1L)
    val colSums = ranked.groupBy(col("event_type"))
      .agg(sum(col("r2")).as("sr2"), count(lit(1)).as("b"), max(col("k")).as("k"))
    val agg = colSums
      .select(col("b"), col("k"),
        round((dd(col("sr2")) / 2.0) * (dd(col("sr2")) / 2.0), 9).cast(b9).as("rj2"))
      .groupBy(col("b"), col("k"))
      .agg(sum(col("rj2")).as("srj2"))
    val chi = lit(12.0) / (dd(col("b")) * dd(col("k")) * (dd(col("k")) + 1.0)) *
      dd(col("srj2")) - lit(3.0) * dd(col("b")) * (dd(col("k")) + 1.0)
    agg
      .withColumn("chi2", when(col("b") > 0, chi))
      .select(col("b").as("n_blocks"), col("k").cast("int").as("k_treatments"),
        round(col("chi2"), 6).as("chi2"),
        round(when(col("k") === 5 && col("chi2") >= 0,
          exp(col("chi2") / lit(-2.0)) * (lit(1.0) + col("chi2") / lit(2.0))), 6)
          .as("p_value"))
  }

  /** ONE-WAY INTRACLASS CORRELATION ICC(1) with users as the grouping
    * factor — "how much of event-value variance is BETWEEN users?", the
    * repeated-measures reliability number behind cluster-randomized
    * experiment design (design effect = 1 + (m̄−1)·ICC governs how many
    * users a cluster-randomized test needs). Unbalanced-design form:
    * n₀ = (N − Σnᵢ²/N)/(k−1), ICC = (MSB − MSW)/(MSB + (n₀−1)·MSW).
    *
    * Same sufficient-statistic discipline as [[anovaF]] but the groups
    * axis is USERS (unbounded): per-group (n, Σv, Σv², n²) reduce in one
    * map-side-combined aggregate, per-group double terms bridge through
    * round-9 DECIMAL(38,9) sums, and the final assembly runs on one row.
    * Nothing materializes per group after the 24-byte term rows.
    */
  def iccOneWay(spark: SparkSession, dir: String): DataFrame = {
    val sq = DecimalType(38, 4)
    val g = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("s"),
        sum((dec(col("value")) * dec(col("value"))).cast(sq)).as("ss"))
    val terms = g.select(col("n"), col("s"),
      (col("n") * col("n")).as("n2"),
      round(dd(col("s")) * dd(col("s")) / dd(col("n")), 9).cast(b9).as("g2n"),
      round(dd(col("ss")) - dd(col("s")) * dd(col("s")) / dd(col("n")), 9).cast(b9).as("w"))
    val agg = terms.agg(count(lit(1)).as("k"), sum(col("n")).as("nt"),
      sum(col("n2")).as("sn2"), sum(col("s")).as("s_all"),
      sum(col("g2n")).as("sum_g2n"), sum(col("w")).as("ssw9"))
    val ssb = dd(col("sum_g2n")) - dd(col("s_all")) * dd(col("s_all")) / dd(col("nt"))
    val msb = ssb / (dd(col("k")) - 1.0)
    val msw = dd(col("ssw9")) / (dd(col("nt")) - dd(col("k")))
    val n0 = (dd(col("nt")) - dd(col("sn2")) / dd(col("nt"))) / (dd(col("k")) - 1.0)
    agg.select(col("k").as("k_users"), col("nt").as("n_obs"),
      round(msb, 6).as("ms_between"), round(msw, 6).as("ms_within"),
      round(n0, 6).as("n0"),
      round(when(col("k") > 1 && col("nt") > col("k") &&
        msb + (n0 - 1.0) * msw > 0,
        (msb - msw) / (msb + (n0 - 1.0) * msw)), 6).as("icc1"))
  }

  /** CRONBACH'S ALPHA over the four lineitem amount components
    * (quantity, extended price, discount, tax) treated as a k=4 item
    * battery — the internal-consistency coefficient
    * α = k/(k−1) · (1 − Σ var(itemᵢ) / var(Σ items)). The operator
    * contract (one pass, exact sufficient statistics for k items plus
    * their row total) is what a survey/feature-battery reliability job
    * runs at any width; the item set is fixed so the aggregate stays a
    * single codegen'd scan.
    *
    * All 10 sums are DECIMAL (items are 2-dp money; squares at
    * DECIMAL(38,4)); each sample variance is one fixed-order double
    * expression; the 4-term variance total adds left-to-right in the
    * same literal order in both engines.
    */
  def cronbachAlpha(spark: SparkSession, dir: String): DataFrame = {
    val sq = DecimalType(38, 4)
    val items = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = Tables(spark, dir, "lineitem")
      .select(items.map(c => dec(col(c)).as(c)) :+
        items.map(c => dec(col(c))).reduce(_ + _).cast(DecimalType(16, 2)).as("t"): _*)
    val aggs =
      Seq(count(lit(1)).as("n")) ++
        items.zipWithIndex.flatMap { case (c, i) =>
          Seq(sum(col(c)).as(s"s$i"),
            sum((col(c) * col(c)).cast(sq)).as(s"ss$i"))
        } ++
        Seq(sum(col("t")).as("st"), sum((col("t") * col("t")).cast(sq)).as("sst"))
    val a = li.agg(aggs.head, aggs.tail: _*)
    def sv(s: Column, ss: Column) =
      (dd(ss) - dd(s) * dd(s) / dd(col("n"))) / (dd(col("n")) - 1.0)
    val varSum = items.indices.map(i => sv(col(s"s$i"), col(s"ss$i"))).reduce(_ + _)
    val varTot = sv(col("st"), col("sst"))
    a.select(col("n").as("n_rows"), lit(4).as("k_items"),
      round(varSum, 6).as("sum_item_var"),
      round(varTot, 6).as("total_var"),
      round(when(varTot > 0,
        (lit(4.0) / 3.0) * (lit(1.0) - varSum / varTot)), 6).as("alpha"))
  }

  /** DECISION STUMP by information gain — the one-split feature ranking
    * every tree/boosting pipeline runs first ("which single feature
    * tells me most about the label?"): for three candidate categorical
    * features (event type, 4-hour day-slot, user parity) against the
    * high-value label (value > 50), gain = H(y) − Σ_v (n_v/N)·H(y|v).
    *
    * One scan: the per-feature long relation is a 3-way `stack`
    * (Expand — a row multiplier INSIDE the pass, the q_profile shape,
    * never three scans); good/bad counts are exact integers per
    * (feature, value) cell; conditional-entropy terms round to 9 dp and
    * sum as DECIMAL(38,9); the winner ranks on the ROUNDED gain (the
    * hash-compared value, so the cross-engine argmax can't flip on a
    * last-ulp tie), feature name ascending as tie-break.
    */
  def decisionStump(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.raw(spark, dir, "events")
    val base = raw.filter(col("value").isNotNull).select(
      col("event_type"),
      call_function("div", pmod(Tables.microsDiv(raw, 3600000000L), lit(24)), lit(4))
        .cast("string").as("slot"),
      pmod(col("user_id"), lit(2L)).cast("string").as("parity"),
      when(col("value") > 50.0, 1L).otherwise(0L).as("y"))
    val long = base.selectExpr(
      "stack(3, 'event_type', event_type, 'day_slot', slot, 'user_parity', parity) AS (feature, v)",
      "y")
    val cells = long.groupBy(col("feature"), col("v"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("g"))
      .withColumn("b", col("n") - col("g"))
    // per-cell conditional entropy contribution (n_v/N)·H(y|v), each
    // class term guarded (0·ln 0 = 0 by omission)
    val tot = cells.groupBy(col("feature"))
      .agg(sum(col("n")).as("nt"), sum(col("g")).as("gt"),
        count(lit(1)).as("n_values"))
    val terms = cells.join(broadcast(tot), Seq("feature"))
      .select(col("feature"),
        round((dd(col("n")) / dd(col("nt"))) *
          (when(col("g") > 0, (dd(col("g")) / dd(col("n"))) * lit(-1.0) *
            log(dd(col("g")) / dd(col("n")))).otherwise(lit(0.0)) +
           when(col("b") > 0, (dd(col("b")) / dd(col("n"))) * lit(-1.0) *
            log(dd(col("b")) / dd(col("n")))).otherwise(lit(0.0))), 9)
          .cast(b9).as("t9"))
      .groupBy(col("feature")).agg(sum(col("t9")).as("hc9"))
    val h0 = tot.withColumn("bt", col("nt") - col("gt"))
      .select(col("feature"), col("n_values"), col("nt"),
        (when(col("gt") > 0, (dd(col("gt")) / dd(col("nt"))) * lit(-1.0) *
          log(dd(col("gt")) / dd(col("nt")))).otherwise(lit(0.0)) +
         when(col("bt") > 0, (dd(col("bt")) / dd(col("nt"))) * lit(-1.0) *
          log(dd(col("bt")) / dd(col("nt")))).otherwise(lit(0.0))).as("h_base"))
    val gains = h0.join(terms, Seq("feature"))
      .select(col("feature"), col("n_values"), col("nt").as("n_rows"),
        round(col("h_base"), 6).as("h_base"),
        round(dd(col("hc9")), 6).as("h_cond"),
        round(col("h_base") - dd(col("hc9")), 6).as("info_gain"))
    val wBest = Window.orderBy(col("info_gain").desc, col("feature").asc)
    gains.withColumn("rk", row_number().over(wBest))
      .select(col("feature"), col("n_values"), col("n_rows"),
        col("h_base"), col("h_cond"), col("info_gain"),
        (col("rk") === 1).as("is_best"))
  }

  /** PARTIAL AUTOCORRELATION (lags 1–5) of the hourly count series per
    * event type, via the Durbin–Levinson recursion — the AR-order
    * diagnostic that completes the time-series tier (ACF lives in
    * [[ljungBox]], trend-residual correlation in [[durbinWatson]]; PACF
    * is what tells you WHICH AR(p) to fit: it cuts off after the true
    * order). φ_{k,k} comes from the classic recursion
    * φ_{k,k} = (ρ_k − Σφ_{k−1,j}ρ_{k−j}) / (1 − Σφ_{k−1,j}ρ_j),
    * φ_{k,j} = φ_{k−1,j} − φ_{k,k}φ_{k−1,k−j}, unrolled to scalar
    * expressions (5 lags = 14 φ terms) evaluated on ONE row per type.
    *
    * The data-side work is [[ljungBox]]'s shape verbatim: demeaned lag
    * products over the CALENDAR-BOUNDED hourly axis, round-9
    * DECIMAL(38,9) sums, so ρ₁..ρ₅ are identical doubles on both
    * engines — and the recursion, mirrored expression-for-expression,
    * then compounds identically. Innovation-variance denominators are
    * guarded ≠ 0 (ANSI): a perfectly predicted series emits NULL
    * rather than a fabricated coefficient.
    */
  def pacf(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val hourly = hourlyCounts(spark, dir)
    val m = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("n")).as("s"))
      .select(col("event_type"), col("cnt"),
        (dd(col("s")) / dd(col("cnt"))).as("nbar"))
    val d = hourly.join(broadcast(m), Seq("event_type"))
      .withColumn("d", dd(col("n")) - col("nbar"))
    val lagged = (1 to 5).foldLeft(d) { (df, k) =>
      df.withColumn(s"d$k", lag(col("d"), k).over(w))
    }
    val aggCols = sum(round(col("d") * col("d"), 9).cast(b9)).as("den") +:
      (1 to 5).map(k => sum(when(col(s"d$k").isNotNull,
        round(col("d") * col(s"d$k"), 9).cast(b9))
        .otherwise(lit(0).cast(b9))).as(s"num$k"))
    val agg = lagged.groupBy(col("event_type"), col("cnt"))
      .agg(aggCols.head, aggCols.tail: _*)
      .filter(col("cnt") > 5 && dd(col("den")) > 0)
    val withRho = (1 to 5).foldLeft(agg) { (df, k) =>
      df.withColumn(s"r$k", dd(col(s"num$k")) / dd(col("den")))
    }
    // Durbin–Levinson, unrolled; every Σ written in ascending-j order
    // so both engines build the identical expression tree
    val dl = withRho
      .withColumn("p11", col("r1"))
      .withColumn("q2", lit(1.0) - col("p11") * col("r1"))
      .withColumn("p22", when(col("q2") =!= 0.0,
        (col("r2") - col("p11") * col("r1")) / col("q2")))
      .withColumn("p21", col("p11") - col("p22") * col("p11"))
      .withColumn("q3", lit(1.0) - (col("p21") * col("r1") + col("p22") * col("r2")))
      .withColumn("p33", when(col("q3") =!= 0.0,
        (col("r3") - (col("p21") * col("r2") + col("p22") * col("r1"))) / col("q3")))
      .withColumn("p31", col("p21") - col("p33") * col("p22"))
      .withColumn("p32", col("p22") - col("p33") * col("p21"))
      .withColumn("q4", lit(1.0) - (col("p31") * col("r1") + col("p32") * col("r2")
        + col("p33") * col("r3")))
      .withColumn("p44", when(col("q4") =!= 0.0,
        (col("r4") - (col("p31") * col("r3") + col("p32") * col("r2")
          + col("p33") * col("r1"))) / col("q4")))
      .withColumn("p41", col("p31") - col("p44") * col("p33"))
      .withColumn("p42", col("p32") - col("p44") * col("p32"))
      .withColumn("p43", col("p33") - col("p44") * col("p31"))
      .withColumn("q5", lit(1.0) - (col("p41") * col("r1") + col("p42") * col("r2")
        + col("p43") * col("r3") + col("p44") * col("r4")))
      .withColumn("p55", when(col("q5") =!= 0.0,
        (col("r5") - (col("p41") * col("r4") + col("p42") * col("r3")
          + col("p43") * col("r2") + col("p44") * col("r1"))) / col("q5")))
    dl.selectExpr("event_type", "cnt AS n_hours",
      "stack(5, 1, round(p11, 6), 2, round(p22, 6), 3, round(p33, 6), " +
        "4, round(p44, 6), 5, round(p55, 6)) AS (lag, pacf)")
  }

  /** BARTLETT'S TEST for variance homogeneity across event types — the
    * likelihood-ratio companion to [[brownForsythe]] (Bartlett is the
    * more powerful test under normality; Brown–Forsythe the robust
    * one — a variance pipeline reports both). Statistic
    * χ² = [(N−k)·ln S²_p − Σ(nᵢ−1)·ln S²ᵢ] / C with the standard
    * Bartlett correction C; scale-invariance of the ln differences
    * makes the integer-cents domain exact. Per-group sufficient stats
    * (n, Σc, Σc²) are exact BIGINTs from one scan; the k ln/1-over
    * terms bridge through round-9 decimals; df = k−1 = 4 takes the
    * closed-form even-df survival.
    */
  def bartlett(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables(spark, dir, "events").filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ss"))
      .filter(col("n") > 1)
    val terms = g.select(
      col("n"),
      round((lit(1.0)) / (dd(col("n")) - 1.0), 9).cast(b9).as("inv9"),
      round((dd(col("n")) - 1.0) *
        log((dd(col("ss")) - dd(col("s")) * dd(col("s")) / dd(col("n"))) /
          (dd(col("n")) - 1.0)), 9).cast(b9).as("nls9"),
      round(dd(col("ss")) - dd(col("s")) * dd(col("s")) / dd(col("n")), 9)
        .cast(b9).as("w9"))
    val agg = terms.agg(count(lit(1)).as("k"), sum(col("n")).as("nt"),
      sum(col("inv9")).as("sinv"), sum(col("nls9")).as("snls"),
      sum(col("w9")).as("ssw"))
    val nk = dd(col("nt")) - dd(col("k"))
    val lnSp = log(dd(col("ssw")) / nk)
    val corr = lit(1.0) + (dd(col("sinv")) - lit(1.0) / nk) /
      (lit(3.0) * (dd(col("k")) - 1.0))
    val chi = (nk * lnSp - dd(col("snls"))) / corr
    agg
      .withColumn("chi2", when(col("k") > 1 && col("nt") > col("k"), chi))
      .select(col("k").cast("int").as("k_groups"), col("nt").as("n_total"),
        round(col("chi2"), 6).as("bartlett_chi2"),
        round(when(col("k") === 5 && col("chi2") >= 0,
          exp(col("chi2") / lit(-2.0)) * (lit(1.0) + col("chi2") / lit(2.0))), 6)
          .as("p_value"))
  }

  /** MOOD'S MEDIAN TEST — "do the k event types share a median?": each
    * value classifies above / not-above the GRAND lower median (the
    * [[madOutliers]] integer-cents histogram selection, corpus-wide),
    * and the k×2 contingency takes the ordinary χ² with df = k−1. The
    * rank-free location test that tolerates wild tails and ties —
    * the screening companion to [[anovaF]] (means) and
    * [[brownForsythe]] (spreads). Cost: one histogram aggregate + one
    * classification scan; cells are exact BIGINTs; (O−E)²/E terms
    * bridge through round-9 decimals.
    */
  def moodMedian(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
    val hist = ev.groupBy(col("c")).agg(count(lit(1)).as("f"))
    val tot = ev.agg(count(lit(1)).as("n"))
    val wm = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = hist.withColumn("cum", sum(col("f")).over(wm))
      .crossJoin(broadcast(tot))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .agg(min(col("c")).as("med"))
    val cells = ev.crossJoin(broadcast(med))
      .select(col("event_type"), (col("c") > col("med")).as("hi"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("ni"), sum(when(col("hi"), 1L).otherwise(0L)).as("ai"))
    val marg = cells.agg(sum(col("ni")).as("nt"), sum(col("ai")).as("at"),
      count(lit(1)).as("k"))
    val t = cells.crossJoin(broadcast(marg))
      .withColumn("e_hi", dd(col("ni")) * dd(col("at")) / dd(col("nt")))
      .withColumn("e_lo", dd(col("ni")) * (dd(col("nt")) - dd(col("at"))) / dd(col("nt")))
      .select(col("k"), col("nt"),
        round(when(col("e_hi") > 0,
          (dd(col("ai")) - col("e_hi")) * (dd(col("ai")) - col("e_hi")) / col("e_hi"))
          .otherwise(lit(0.0)) +
          when(col("e_lo") > 0,
            (dd(col("ni") - col("ai")) - col("e_lo")) *
              (dd(col("ni") - col("ai")) - col("e_lo")) / col("e_lo"))
            .otherwise(lit(0.0)), 9).cast(b9).as("t9"))
    t.groupBy(col("k"), col("nt")).agg(sum(col("t9")).as("chi9"))
      .select(col("k").cast("int").as("k_groups"), col("nt").as("n_total"),
        round(dd(col("chi9")), 6).as("mood_chi2"),
        round(when(col("k") === 5 && dd(col("chi9")) >= 0,
          exp(dd(col("chi9")) / lit(-2.0)) *
            (lit(1.0) + dd(col("chi9")) / lit(2.0))), 6).as("p_value"))
  }

  /** WALD–WOLFOWITZ RUNS TEST on the hourly count series per event
    * type — "is the series' above/below-median pattern random, or does
    * it cluster?": the distribution-free serial-dependence screen that
    * complements [[durbinWatson]] (linear autocorrelation) with a test
    * that sees ANY sign clustering. Values equal to the per-type lower
    * median drop (the standard treatment); R = observed runs of the
    * binary sequence, z = (R − μ)/σ with the exact-integer run moments.
    * Everything reduces on the calendar-bounded hourly axis; the runs
    * count is one lag window over it.
    */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyCounts(spark, dir)
      .localCheckpoint()
    val hist = hourly.groupBy(col("event_type"), col("n")).agg(count(lit(1)).as("f"))
    val tot = hourly.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    val wm = Window.partitionBy(col("event_type")).orderBy(col("n"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = hist.withColumn("cum", sum(col("f")).over(wm))
      .join(broadcast(tot), Seq("event_type"))
      .filter(col("cum") >= expr("(cnt + 1) div 2"))
      .groupBy(col("event_type")).agg(min(col("n")).as("med"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val signs = hourly.join(broadcast(med), Seq("event_type"))
      .filter(col("n") =!= col("med"))
      .withColumn("hi", col("n") > col("med"))
      .withColumn("prev", lag(col("hi"), 1).over(w))
    val agg = signs.groupBy(col("event_type"))
      .agg(sum(when(col("hi"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("hi"), 1L).otherwise(0L)).as("n2"),
        (sum(when(col("prev").isNull || col("prev") =!= col("hi"), 1L)
          .otherwise(0L))).as("runs"))
      .filter(col("n1") > 0 && col("n2") > 0)
    val nn = dd(col("n1")) + dd(col("n2"))
    val two = lit(2.0) * dd(col("n1")) * dd(col("n2"))
    val mu = two / nn + lit(1.0)
    val sig2 = two * (two - nn) / (nn * nn * (nn - lit(1.0)))
    agg.select(col("event_type"), col("n1"), col("n2"), col("runs"),
      round(when(sig2 > 0, (dd(col("runs")) - mu) / sqrt(sig2)), 6).as("z"))
  }

  /** KRUSKAL–WALLIS H — the k-group rank test (the nonparametric
    * [[anovaF]]: "do the k event types differ in location, judged on
    * ranks?"), with the tie correction. Midranks come from the GLOBAL
    * value-cents histogram in doubled-integer form (2·below + f + 1 —
    * the [[spearmanQuantityPrice]] device); per-group rank sums bridge
    * DECIMAL(38,0) (fg·r2 ≈ N², past BIGINT near ~3e9 non-null values —
    * the same overflow class as the tie term, fixed the same way);
    * H assembles from k decimal-bridged R²/n terms; the
    * tie term Σ(f³−f) bridges round-9 decimals per histogram row
    * (f³ outgrows BIGINT at corpus scale); df = k−1 = 4 takes the
    * closed-form even-df survival. Cost: one histogram aggregate over
    * the value domain + one (group, value) aggregate — no rank window
    * ever sorts the full relation.
    */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
    val hist = ev.groupBy(col("c")).agg(count(lit(1)).as("f"))
    val wm = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranks = hist
      .withColumn("below", coalesce(sum(col("f")).over(wm), lit(0L)))
      .withColumn("r2", lit(2L) * col("below") + col("f") + 1L)
      .select(col("c"), col("r2"), col("f"))
    val grp = ev.groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("fg"))
      .join(ranks.select(col("c"), col("r2")), Seq("c"))
      .groupBy(col("event_type"))
      .agg(sum(col("fg")).as("n"),
        sum(col("fg").cast(DecimalType(38, 0)) * col("r2").cast(DecimalType(38, 0)))
          .as("rr2"))
    val terms = grp.select(col("n"),
      round((dd(col("rr2")) / 2.0) * (dd(col("rr2")) / 2.0) / dd(col("n")), 9)
        .cast(b9).as("t9"))
    val ties = ranks.select(
      round(dd(col("f")) * dd(col("f")) * dd(col("f")) - dd(col("f")), 9)
        .cast(b9).as("tt9"))
      .agg(sum(col("tt9")).as("ties9"))
    val agg = terms.agg(count(lit(1)).as("k"), sum(col("n")).as("nt"),
      sum(col("t9")).as("st9"))
      .crossJoin(broadcast(ties))
    val nD = dd(col("nt"))
    val h = lit(12.0) / (nD * (nD + 1.0)) * dd(col("st9")) - lit(3.0) * (nD + 1.0)
    val corr = lit(1.0) - dd(col("ties9")) / (nD * nD * nD - nD)
    agg
      .withColumn("h_raw", when(col("nt") > 1, h))
      .withColumn("corr", corr)
      .select(col("k").cast("int").as("k_groups"), col("nt").as("n_total"),
        round(col("h_raw"), 6).as("h_stat"),
        round(when(col("corr") > 0, col("h_raw") / col("corr")), 6).as("h_tied"),
        round(when(col("k") === 5 && col("corr") > 0 && col("h_raw") / col("corr") >= 0,
          exp(col("h_raw") / col("corr") / lit(-2.0)) *
            (lit(1.0) + col("h_raw") / col("corr") / lit(2.0))), 6).as("p_value"))
  }

  /** WELCH'S HETEROSCEDASTIC ONE-WAY ANOVA — the k-group mean test
    * that stays valid when [[bartlett]] REJECTS variance homogeneity
    * (the k-sample generalization of [[welchTTest]], Welch 1951):
    * weights w_i = n_i/s_i², weighted grand mean, statistic
    * W* = Σw_i(m_i−m̄_w)²/(k−1) / (1 + 2(k−2)/(k²−1)·Λ) with
    * Λ = Σ(1−w_i/Σw)²/(n_i−1), and the Welch–Satterthwaite
    * denominator df₂ = (k²−1)/(3Λ). The statistic and dfs are the
    * operator (F-tail critical values are a table lookup, the
    * [[tukeyHsd]] contract). Same one-scan exact sufficient
    * statistics as [[anovaF]]; the k-term weighted sums bridge
    * round-9 decimals so neither engine's reduce order matters.
    */
  def welchAnova(spark: SparkSession, dir: String): DataFrame = {
    val sq = DecimalType(38, 4)
    val g = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).as("s"),
        sum((dec(col("value")) * dec(col("value"))).cast(sq)).as("ss"))
      .filter(col("n") > 1)
    // per-group: mean, sample variance, weight — one fixed-order
    // double block, then round-9 decimal terms for the k-row sums
    val w = g
      .withColumn("m", dd(col("s")) / dd(col("n")))
      .withColumn("v",
        (dd(col("ss")) - dd(col("s")) * dd(col("s")) / dd(col("n"))) /
          (dd(col("n")) - 1.0))
      .filter(col("v") > 0)
      .withColumn("wi", dd(col("n")) / col("v"))
    val terms = w.select(col("n"),
      round(col("wi"), 9).cast(b9).as("w9"),
      round(col("wi") * col("m"), 9).cast(b9).as("wm9"))
    val tot = terms.agg(count(lit(1)).as("k"), sum(col("w9")).as("sw"),
      sum(col("wm9")).as("swm"))
    val withBar = w.crossJoin(broadcast(tot))
      .withColumn("mbar", dd(col("swm")) / dd(col("sw")))
      .select(col("k"), col("sw"),
        round(col("wi") * (col("m") - col("mbar")) * (col("m") - col("mbar")), 9)
          .cast(b9).as("num9"),
        round((lit(1.0) - col("wi") / dd(col("sw"))) *
          (lit(1.0) - col("wi") / dd(col("sw"))) / (dd(col("n")) - 1.0), 9)
          .cast(b9).as("lam9"))
    val agg = withBar.groupBy(col("k"))
      .agg(sum(col("num9")).as("snum"), sum(col("lam9")).as("slam"))
    val kD = dd(col("k"))
    val lam = dd(col("slam"))
    val wStat = (dd(col("snum")) / (kD - 1.0)) /
      (lit(1.0) + lit(2.0) * (kD - 2.0) / (kD * kD - 1.0) * lam)
    agg.filter(col("k") > 1)
      .select(col("k").cast("int").as("k_groups"),
        round(wStat, 6).as("welch_f"),
        (col("k") - 1L).cast("int").as("df1"),
        round(when(lam > 0, (kD * kD - 1.0) / (lit(3.0) * lam)), 6).as("df2"))
  }

  /** JARQUE–BERA normality test per event type — skewness and excess
    * kurtosis from the first four EXACT moment sums of the integer
    * cents (Σc⁴ outgrows BIGINT, so the cubes/quartics sum as
    * DECIMAL(38,0) — still exact), central moments by the expansion
    * formulas in fixed-order doubles, JB = n/6·(S² + K²/4), and the
    * df=2 chi-square survival is EXACTLY e^{−JB/2} (the one df where
    * the closed form is a single exponential). The distribution-shape
    * gate before any test that assumes normal tails ([[anovaF]],
    * [[bartlett]], [[effectSize]] all lead here).
    */
  def jarqueBera(spark: SparkSession, dir: String): DataFrame = {
    // the cube/quartic leave BIGINT range (the 10× sweep found c⁴ of a
    // 560-unit value overflowing long by 7%): square in longs (safe to
    // |c| ≤ 3e9), then multiply in DECIMAL so both engines stay exact —
    // widths chosen to keep DuckDB's width-additive rule inside 38
    val c2d = (col("c") * col("c")).cast(DecimalType(19, 0))
    val cd = col("c").cast(DecimalType(10, 0))
    val g = Tables(spark, dir, "events").filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"),
        sum(c2d * cd).as("s3"),
        sum(c2d * c2d).as("s4"))
      .filter(col("n") > 3)
    val nD = dd(col("n"))
    val mu = dd(col("s1")) / nD
    val m2 = dd(col("s2")) / nD - mu * mu
    val m3 = dd(col("s3")) / nD - lit(3.0) * mu * (dd(col("s2")) / nD) +
      lit(2.0) * mu * mu * mu
    val m4 = dd(col("s4")) / nD - lit(4.0) * mu * (dd(col("s3")) / nD) +
      lit(6.0) * mu * mu * (dd(col("s2")) / nD) - lit(3.0) * mu * mu * mu * mu
    val skew = m3 / sqrt(m2 * m2 * m2)
    val kurt = m4 / (m2 * m2) - lit(3.0)
    val jb = nD / 6.0 * (skew * skew + kurt * kurt / 4.0)
    // a zero-variance type has no defined shape statistics — drop the
    // row (mirrored WHERE m2 > 0 in the oracle), don't emit NULLs
    g.withColumn("m2v", m2).filter(col("m2v") > 0)
      .select(col("event_type"), col("n"),
        round(skew, 6).as("skewness"),
        round(kurt, 6).as("excess_kurtosis"),
        round(jb, 6).as("jb_stat"),
        round(when(jb >= 0, exp(jb / lit(-2.0))), 6).as("p_value"))
  }

  /** GRUBBS' STATISTIC per event type — the classic single-outlier
    * screen G = max|x − x̄| / s, published with the offending event id
    * (lowest id on deviation ties, so both engines name the same row).
    * Complements the bulk screens ([[Relational.outlierEvents]] z,
    * [[madOutliers]] robust z): Grubbs asks about exactly ONE most
    * extreme point, the form the ESD generalization iterates. Two
    * map-side-combined aggregates + one broadcast-filtered pass; the
    * deviation is one double per row off exact integer stats.
    */
  def grubbs(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
    val st = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ss"))
      .filter(col("n") > 2)
      .withColumn("mean", dd(col("s")) / dd(col("n")))
      .withColumn("sd", sqrt((dd(col("ss")) - dd(col("s")) * dd(col("s")) /
        dd(col("n"))) / (dd(col("n")) - 1.0)))
    val dev = ev.join(broadcast(st), Seq("event_type"))
      .withColumn("d", abs(dd(col("c")) - col("mean")))
    val mx = dev.groupBy(col("event_type")).agg(max(col("d")).as("dmax"))
    dev.join(broadcast(mx), Seq("event_type"))
      .filter(col("d") === col("dmax"))
      .groupBy(col("event_type"), col("n"), col("sd"), col("dmax"))
      .agg(min(col("event_id")).as("outlier_event_id"),
        min_by(col("c"), col("event_id")).as("outlier_cents"))
      .select(col("event_type"), col("n"),
        round(when(col("sd") > 0, col("dmax") / col("sd")), 6).as("g_stat"),
        col("outlier_event_id"), col("outlier_cents"))
  }

  /** EXACT POISSON RATE-RATIO TEST (conditional binomial form) on
    * purchase counts between the two experiment arms — "did arm A's
    * event RATE move?", answered exactly: conditional on the total
    * c_A + c_B, the arm-A count is Binomial(n, p₀) with p₀ =
    * t_A/(t_A+t_B) (exposure = arm user counts), and the two-sided p
    * sums every outcome with mass ≤ observed (the same relative
    * tolerance as [[fisherExact]]). The second user of the decimal
    * ln-factorial prefix table: ln C(n,x) is a chain of decimal
    * subtractions; x·ln p₀ + (n−x)·ln(1−p₀) adds in fixed-order
    * doubles; the outcome axis is corpus-linear and distributed.
    */
  def exactRateTest(spark: SparkSession, dir: String, slice: Int = 4096): DataFrame = {
    val p15 = DecimalType(38, 15)
    def dz = lit(0).cast(b9)
    val ev = Tables(spark, dir, "events")
    // the four margins are ONE row — collect them once and re-enter as
    // a local relation: every downstream crossJoin(broadcast(m)) (the
    // outcome axis, the final select, nTot) otherwise re-executed the
    // full scan-with-two-countDistincts aggregate inside its own
    // broadcast subtree (3 corpus scans for numbers already on the
    // driver). Exact longs; collect changes nothing numerically.
    import spark.implicits._
    val mRow = ev.agg(
      sum(when(pmod(col("user_id"), lit(2)) === 0 &&
        col("event_type") === "purchase", 1L).otherwise(0L)).as("ca"),
      sum(when(pmod(col("user_id"), lit(2)) =!= 0 &&
        col("event_type") === "purchase", 1L).otherwise(0L)).as("cb"),
      countDistinct(when(pmod(col("user_id"), lit(2)) === 0, col("user_id"))).as("ta"),
      countDistinct(when(pmod(col("user_id"), lit(2)) =!= 0, col("user_id"))).as("tb"))
      .head()
    val m = Seq((mRow.getLong(0), mRow.getLong(1), mRow.getLong(2), mRow.getLong(3)))
      .toDF("ca", "cb", "ta", "tb")
      .withColumn("n", col("ca") + col("cb"))
    val nTot = mRow.getLong(0) + mRow.getLong(1)
    val terms = spark.range(1, nTot + 1)
      .select(col("id").as("i"), ((col("id") - 1) / slice).as("s"),
        round(log(dd(col("id"))), 9).cast(b9).as("l"))
    val bases = terms.groupBy(col("s")).agg(sum(col("l")).as("ls"))
      .withColumn("base", coalesce(sum(col("ls")).over(
        Window.orderBy(col("s")).rowsBetween(Window.unboundedPreceding, -1)), dz))
      .select(col("s"), col("base"))
    val fTab = terms
      .withColumn("run", sum(col("l")).over(
        Window.partitionBy(col("s")).orderBy(col("i"))))
      .join(broadcast(bases), Seq("s"))
      .select(col("i"), (col("base") + col("run")).as("lf"))
      .localCheckpoint()
    // outcome axis x = 0..n; each mass needs F(n) − F(x) − F(n−x)
    val xs = fTab.select(col("i").as("x"))
      .unionByName(spark.range(1).select(lit(0L).as("x")))
      .crossJoin(broadcast(m))
      .filter(col("x") <= col("n"))
    val withF = xs
      .join(fTab.select(col("i").as("x"), col("lf").as("fx")), Seq("x"), "left")
      .join(fTab.select((col("i")).as("nx_i"), col("lf").as("fnx")),
        col("n") - col("x") === col("nx_i"), "left")
      .join(broadcast(fTab.select(col("i").as("n_i"), col("lf").as("fn"))),
        col("n") === col("n_i"))
      .withColumn("lnc",
        (col("fn") - coalesce(col("fx"), dz)) - coalesce(col("fnx"), dz))
    val scored = withF
      .withColumn("p0", dd(col("ta")) / (dd(col("ta")) + dd(col("tb"))))
      // p0 ∈ {0,1} (an empty arm) would send log(p0)/log(1−p0) to −∞;
      // the mass is degenerate there, so the p-value is left null
      .withColumn("lnp",
        when(col("p0") > 0 && col("p0") < 1,
          dd(col("lnc")) + dd(col("x")) * log(col("p0")) +
            (dd(col("n")) - dd(col("x"))) * log(lit(1.0) - col("p0"))))
      .withColumn("p", exp(col("lnp")))
    val obs = scored.filter(col("x") === col("ca"))
      .select(col("p").as("p_obs"))
    val ps = scored.crossJoin(broadcast(obs))
      .agg(sum(when(col("p") <= col("p_obs") * lit(1.0000001),
        round(col("p"), 15).cast(p15))).as("p2"),
        count(lit(1)).as("n_outcomes"))
    m.crossJoin(broadcast(ps))
      .select(col("ca").as("events_a"), col("cb").as("events_b"),
        col("ta").as("users_a"), col("tb").as("users_b"),
        round(when(col("cb") > 0 && col("ta") > 0 && col("tb") > 0,
          (dd(col("ca")) / dd(col("ta"))) /
            (dd(col("cb")) / dd(col("tb")))), 6).as("rate_ratio"),
        col("n_outcomes"),
        // explicit null guard: least() skips nulls, so a degenerate-arm
        // null p2 would otherwise surface as a confident p = 1.0
        when(col("p2").isNotNull,
          round(least(dd(col("p2")), lit(1.0)), 6)).as("p_two_sided"))
  }

  /** HURST EXPONENT by rescaled-range (R/S) analysis of the hourly
    * count series per event type — the long-memory dial (H ≈ 0.5
    * random walk, > 0.5 persistent/trending, < 0.5 mean-reverting)
    * behind capacity forecasting and burstiness diagnosis, estimated
    * the classic Mandelbrot–Wallis way: split the series into
    * disjoint windows of w ∈ {16, 32, 64, 128}, per window R = range
    * of cumulative deviations and S = population sd, H = OLS slope of
    * ln(mean R/S) on ln w.
    *
    * Exactness: the cumulative deviation at step t is
    * `cumsum(n) − t·mean` — the running sum stays in EXACT BIGINTs
    * (no double accumulation anywhere; the one subtraction per row is
    * order-free), S comes from exact (Σn, Σn²), per-window ln(R/S)
    * terms bridge round-9 decimals into the per-scale mean, and the
    * 4-point regression runs on decimal-bridged sums. Window
    * partitions are (type, scale, window-id) — hundreds of rows each
    * on the CALENDAR-BOUNDED axis, never a per-type funnel.
    */
  def hurstExponent(spark: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyCounts(spark, dir)
    val perType = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val cnts = hourly.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    val ranked = hourly
      .withColumn("r", row_number().over(perType))
      .join(broadcast(cnts), Seq("event_type"))
      .withColumn("w", explode(array(lit(16L), lit(32L), lit(64L), lit(128L))))
      .withColumn("wid", expr("(CAST(r AS BIGINT) - 1) div w"))
      .filter((col("wid") + 1) * col("w") <= col("cnt"))
    val win = Window.partitionBy(col("event_type"), col("w"), col("wid"))
    val ord = win.orderBy(col("r"))
    val dev = ranked
      .withColumn("cs", sum(col("n")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tloc", row_number().over(ord))
      .withColumn("tot", sum(col("n")).over(win))
      .withColumn("tot2", sum(col("n") * col("n")).over(win))
      .withColumn("cumdev",
        dd(col("cs")) - dd(col("tloc")) * (dd(col("tot")) / dd(col("w"))))
    val rsPerWin = dev.groupBy(col("event_type"), col("w"), col("wid"))
      .agg((max(col("cumdev")) - min(col("cumdev"))).as("rr"),
        max(col("tot")).as("s1"), max(col("tot2")).as("s2"))
      .withColumn("svar",
        dd(col("s2")) / dd(col("w")) -
          (dd(col("s1")) / dd(col("w"))) * (dd(col("s1")) / dd(col("w"))))
      .filter(col("svar") > 0 && col("rr") > 0)
      .select(col("event_type"), col("w"),
        round(log(col("rr") / sqrt(col("svar"))), 9).cast(b9).as("lnrs9"))
    val perScale = rsPerWin.groupBy(col("event_type"), col("w"))
      .agg(sum(col("lnrs9")).as("sy9"), count(lit(1)).as("nw"))
      .select(col("event_type"),
        log(dd(col("w"))).as("x"),
        (dd(col("sy9")) / dd(col("nw"))).as("y"),
        col("nw"))
    val reg = perScale
      .select(col("event_type"), col("nw"),
        round(col("x"), 9).cast(b9).as("x9"),
        round(col("y"), 9).cast(b9).as("y9"),
        round(col("x") * col("y"), 9).cast(b9).as("xy9"),
        round(col("x") * col("x"), 9).cast(b9).as("xx9"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("m"), sum(col("nw")).as("n_windows"),
        sum(col("x9")).as("sx"), sum(col("y9")).as("sy"),
        sum(col("xy9")).as("sxy"), sum(col("xx9")).as("sxx"))
    val den = dd(col("m")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))
    reg.filter(col("m") >= 2)
      .select(col("event_type"), col("m").cast("int").as("n_scales"),
        col("n_windows"),
        round(when(den > 0,
          (dd(col("m")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))) / den), 6)
          .as("hurst"))
  }

  /** FISHER'S EXACT TEST on the lang='en' × source='src0' 2×2 table —
    * the small-margin independence test chi-square approximations get
    * wrong (and the one usually written off as "not doable exactly in
    * SQL"). Two-sided p = Σ over all tables t with P(t) ≤ P(observed)
    * of the hypergeometric mass, computed EXACTLY the same on both
    * engines:
    *
    *  - ln-factorial prefix table F(i) = Σ_{j≤i} round9(ln j) as a
    *    DECIMAL(38,9) cumulative sum — order-independent, so Spark
    *    builds it TWO-PHASE (4096-slice sums + broadcast bases + local
    *    running sums; no global-order window over the corpus-sized
    *    relation) while the oracle uses a plain window cumsum, and the
    *    values are identical by construction;
    *  - every ln P(t) is a chain of DECIMAL subtractions of F-sums
    *    (one double conversion at the exp), so the extreme-set
    *    membership test `p ≤ p_obs·1.0000001` (R's fisher.test relative
    *    tolerance) selects the same t on both engines;
    *  - the final mass sums round-15 decimals.
    *
    * Scale shape: F is O(N) rows built without a global sort; the term
    * range is min(row, column) margin — each term is one 4-arg lookup
    * join against F. Everything else is 1-row broadcasts.
    */
  def fisherExact(spark: SparkSession, dir: String, slice: Int = 4096): DataFrame = {
    val p15 = DecimalType(38, 15)
    def dz = lit(0).cast(b9)
    val docs = Tables(spark, dir, "documents")
    // the 2×2 margins are ONE row — collect once and re-enter as a
    // local relation: the five downstream broadcast subtrees (pos, obs,
    // ts, lden, final) each re-executed the corpus aggregate otherwise,
    // and nN is the same count the aggregate already computed. Exact
    // longs; collect changes nothing numerically.
    import spark.implicits._
    val mRow = docs.agg(
      count(lit(1)).as("nn"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("kk"),
      sum(when(col("source") === "src0", 1L).otherwise(0L)).as("n1"),
      sum(when(col("lang") === "en" && col("source") === "src0", 1L)
        .otherwise(0L)).as("aa"))
      .head()
    val m = Seq((mRow.getLong(0), mRow.getLong(1), mRow.getLong(2), mRow.getLong(3)))
      .toDF("nn", "kk", "n1", "aa")
      .withColumn("tmin", greatest(lit(0L), col("kk") + col("n1") - col("nn")))
      .withColumn("tmax", least(col("kk"), col("n1")))
    val nN = mRow.getLong(0)
    val terms = spark.range(1, nN + 1)
      .select(col("id").as("i"), ((col("id") - 1) / slice).as("s"),
        round(log(dd(col("id"))), 9).cast(b9).as("l"))
    val bases = terms.groupBy(col("s")).agg(sum(col("l")).as("ls"))
      .withColumn("base", coalesce(sum(col("ls")).over(
        Window.orderBy(col("s")).rowsBetween(Window.unboundedPreceding, -1)), dz))
      .select(col("s"), col("base"))
    val fTab = terms
      .withColumn("run", sum(col("l")).over(
        Window.partitionBy(col("s")).orderBy(col("i"))))
      .join(broadcast(bases), Seq("s"))
      .select(col("i"), (col("base") + col("run")).as("lf"))
      .localCheckpoint()
    val pos = m.select(explode(array(col("kk"), col("nn") - col("kk"),
        col("n1"), col("nn") - col("n1"))).as("i"))
      .join(fTab, Seq("i"), "left")
      .agg(sum(coalesce(col("lf"), dz)).as("pos9"))
    val neg = m.select(col("nn").as("i")).join(fTab, Seq("i"))
      .agg(sum(col("lf")).as("neg9"))
    val obs = m.select(explode(array(col("aa"), col("kk") - col("aa"),
        col("n1") - col("aa"), col("nn") - col("kk") - col("n1") + col("aa"))).as("i"))
      .join(fTab, Seq("i"), "left")
      .agg(sum(coalesce(col("lf"), dz)).as("obs9"))
    val ts = fTab.select(col("i").as("t"))
      .crossJoin(broadcast(m.select(col("tmin"), col("tmax"))))
      .filter(col("t") >= col("tmin") && col("t") <= col("tmax"))
      .select(col("t"))
      .unionByName(m.filter(col("tmin") === 0L).select(lit(0L).as("t")))
    val lden = ts.crossJoin(broadcast(m.select(col("kk"), col("n1"), col("nn"))))
      .select(col("t"), explode(array(col("t"), col("kk") - col("t"),
        col("n1") - col("t"), col("nn") - col("kk") - col("n1") + col("t"))).as("i"))
      .join(fTab, Seq("i"), "left")
      .groupBy(col("t")).agg(sum(coalesce(col("lf"), dz)).as("lden9"))
    val ps = lden.crossJoin(broadcast(pos)).crossJoin(broadcast(neg))
      .crossJoin(broadcast(obs))
      .withColumn("p", exp(dd((col("pos9") - col("neg9")) - col("lden9"))))
      .withColumn("p_obs", exp(dd((col("pos9") - col("neg9")) - col("obs9"))))
      .agg(sum(when(col("p") <= col("p_obs") * lit(1.0000001),
        round(col("p"), 15).cast(p15))).as("p2"),
        count(lit(1)).as("n_terms"))
    m.crossJoin(broadcast(ps))
      .select(col("nn").as("n_docs"), col("kk").as("n_en"),
        col("n1").as("n_src0"), col("aa").as("a_obs"),
        round(when((col("kk") - col("aa")) * (col("n1") - col("aa")) > 0,
          dd(col("aa")) * dd(col("nn") - col("kk") - col("n1") + col("aa")) /
            (dd(col("kk") - col("aa")) * dd(col("n1") - col("aa")))), 6)
          .as("odds_ratio"),
        col("n_terms"),
        round(least(dd(col("p2")), lit(1.0)), 6).as("p_two_sided"))
  }
}
