package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Product-analytics operators over the event log (SURVEY §2B extension):
  * ordered funnel conversion and weekly cohort retention — the two query
  * shapes every engagement pipeline runs, expressed so the heavy input
  * (the event log) is touched a constant number of times and everything
  * after the first aggregation is per-user-sized.
  *
  * Scale story: both operators reduce the event log to per-user rows with
  * map-side-combined `groupBy(user_id)` aggregations before any join, so
  * at 100 TB the joins exchange |users| rows, never |events|; the
  * `event_type` filters push down to the parquet scan.
  */
object Analytics {

  /** Ordered funnel: for every user, the first `view`, the first `click`
    * AFTER that view, and the first `purchase` AFTER that click. Stages
    * are strictly ordered (a click before the first view does not count),
    * which is what distinguishes a funnel from three independent mins —
    * each stage joins the previous stage's per-user timestamp and
    * re-minimizes, so the event log is scanned once per stage with the
    * stage's type filter pushed down, and every join key is `user_id`.
    * Users who never reach a stage keep NULL from the left joins.
    */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables(spark, dir, "events")
    val users = events.select(col("user_id")).distinct()
    val view = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val click = events.filter(col("event_type") === "click")
      .join(view, Seq("user_id"))
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val purchase = events.filter(col("event_type") === "purchase")
      .join(click, Seq("user_id"))
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    users
      .join(view, Seq("user_id"), "left")
      .join(click, Seq("user_id"), "left")
      .join(purchase, Seq("user_id"), "left")
  }

  /** TIME-BOUNDED funnel — [[funnelConversion]] with a conversion
    * window: each stage only counts within `windowHours` of the
    * previous stage (the form real funnel reporting uses — "purchased
    * within 24h of clicking", not "ever"). Same one-scan-per-stage /
    * user-keyed-join physics; the window bound is one more pushable
    * predicate on each stage join.
    */
  def funnelWindowed(spark: SparkSession, dir: String, windowHours: Int = 24): DataFrame = {
    val events = Tables(spark, dir, "events")
    val bound = expr(s"INTERVAL $windowHours HOURS")
    val users = events.select(col("user_id")).distinct()
    val view = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val click = events.filter(col("event_type") === "click")
      .join(view, Seq("user_id"))
      .filter(col("ts") > col("t_view") && col("ts") <= col("t_view") + bound)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val purchase = events.filter(col("event_type") === "purchase")
      .join(click, Seq("user_id"))
      .filter(col("ts") > col("t_click") && col("ts") <= col("t_click") + bound)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    users
      .join(view, Seq("user_id"), "left")
      .join(click, Seq("user_id"), "left")
      .join(purchase, Seq("user_id"), "left")
  }

  /** Batch sessionization (gaps-and-islands): consecutive events of a
    * user belong to one session until a silence of `gapMinutes` splits
    * them; each session row carries its span and event count. The batch
    * counterpart of the streaming `session_window` queries (which pin a
    * 10-minute gap against this same SQL shape) — here via the window
    * path: one shuffle on `user_id`, then lag → new-session flag →
    * running sum, all within the one sorted partition pass, then a
    * reaggregation that reuses the same (user-keyed) partitioning.
    * Session state is never global: everything is per-user, so 100 TB of
    * events partitions to |users| independent sorted streams.
    */
  def sessionize(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_s",
        when(lag(col("ts"), 1).over(w).isNull
          || col("ts") - lag(col("ts"), 1).over(w) >= expr(s"INTERVAL $gapMinutes MINUTE"), 1)
          .otherwise(0))
      .withColumn("session_idx",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** The ENGINE-OWNED spelling of [[sessionize]]: batch
    * `session_window` grouping — Spark's native session operator (the
    * same one Structured Streaming uses) applied to a static frame.
    * One exchange on the grouping key, session merging inside the
    * aggregate — no lag/running-sum window stack to maintain, and the
    * two formulations must agree exactly: a session ends when the next
    * event is ≥ gap away, `end = last_ts + gap`. The islands oracle
    * (shared shape with `q_sessionize`) pins that equivalence.
    */
  def sessionWindowCounts(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Weekly cohort retention: users are cohorted by the ISO week of their
    * first event, and each (cohort_week, week_offset) cell counts the
    * cohort's users active that many weeks later. The event log collapses
    * to DISTINCT (user_id, week) first — one map-side-combined exchange —
    * so the cohort join and the final cell aggregation both run on
    * ≤ |users| × |weeks| rows regardless of raw event volume.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables(spark, dir, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
    val cohort = weekly.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    weekly.join(cohort, Seq("user_id"))
      .withColumn("week_offset", (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Slowly-changing-dimension Type 2 from a change log: each user's
    * event stream collapses to the intervals over which their state
    * (the event_type) held — consecutive same-state rows compact away,
    * then each surviving change opens [valid_from, valid_to) with NULL
    * valid_to marking the current row. The verb a corpus/feature store
    * uses to turn an append-only log into point-in-time-queryable
    * history (the batch complement of `Upsert.refreshedCorpus`, which
    * keeps only the latest row).
    *
    * One exchange: the lag window, the change filter, and the lead
    * window all share the (user_id × ts, event_id) sort, and a filter
    * preserves ordering — Catalyst plans a single shuffle+sort with
    * both Window nodes on it. State per task is one user's run, never
    * the log.
    */
  def scd2UserState(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_state", lag(col("event_type"), 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_type").as("state"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Time-spine gap filling with last-observation-carried-forward: the
    * event log aggregates to per-(user, hour) sums, each user's hour
    * spine materializes densely from their min to max hour
    * (`sequence` + explode — generated per user on the executor, never
    * a driver-side calendar), missing hours left-join to NULL, and a
    * running `last(ignoreNulls)` window carries the previous
    * observation forward. The standard regularization step before any
    * windowed/sequence model trains on irregular telemetry.
    *
    * Scale: the heavy input collapses to |users × active hours| before
    * the spine ever exists, and the spine is |users × span hours| —
    * both user-bounded, both partitioned by user_id; the fill window
    * reuses the join's hash partitioning and holds one user's hours.
    */
  def gapFillHourly(spark: SparkSession, dir: String): DataFrame = {
    // has_events marks spine hours backed by a real hourly row —
    // distinct from hour_value's nullness, so an hour whose events all
    // carry NULL values still reads as observed (it IS telemetry)
    val hourly = Tables(spark, dir, "events")
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(sum(col("value").cast("decimal(12,2)")).cast("double").as("hour_value"))
      .withColumn("has_events", lit(true))
    val spine = hourly.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hour"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("user_id", "hour"), "left")
      .withColumn("filled_value", last(col("hour_value"), ignoreNulls = true).over(w))
      .withColumn("is_observed", coalesce(col("has_events"), lit(false)))
      .select(col("user_id"), col("hour"), col("filled_value"), col("is_observed"))
  }

  /** Point-in-time (PIT) enrichment join — each purchase event picks
    * the [[scd2UserState]] dimension version valid AT its timestamp
    * (`valid_from ≤ ts < valid_to`, open current versions included):
    * the leakage-free feature join every temporal feature store needs
    * (joining today's dimension row onto last month's events is the
    * classic training-data bug; the interval predicate makes it
    * impossible). Equi-join on `user_id` with the interval as a
    * residual — never an interval cross product — so at 100 TB it
    * shuffles like any user-keyed join; a purchase that begins an
    * interval maps to its own version (inclusive-start convention).
    */
  def pitEnrichedPurchases(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2UserState(spark, dir)
      .select(col("user_id").as("d_user"), col("state"),
        col("valid_from"), col("valid_to"))
    Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .join(dim, col("user_id") === col("d_user") &&
        col("valid_from") <= col("ts") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("value"),
        col("state").as("state_at"), col("valid_from").as("state_since"))
  }

  /** Per-user EWMA smoothing of the value series — genuinely sequential
    * per-key state (each output depends on the FULL prefix), which no
    * window frame expresses: windows aggregate over frames, they don't
    * thread state. This is the batch `groupByKey`/`flatMapGroups` typed
    * surface (the batch dual of `mapGroupsWithState`): one user-keyed
    * exchange, then each user's history sorts and folds in memory —
    * per-group state is one user's rows, the same bound every per-user
    * window in this file already assumes. α = 0.25 keeps α and 1−α
    * binary-exact, and the fold order is pinned by (ts, event_id), so
    * the oracle's recursive-CTE arithmetic is bit-identical — the ewma
    * is emitted RAW (a round() here can disagree across engines on
    * half-boundary doubles; identical bits need no rounding).
    */
  def ewmaUserValues(spark: SparkSession, dir: String, alpha: Double = 0.25): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[(Long, java.time.LocalDateTime, Long, Double)]
    ev.groupByKey(_._1)
      .flatMapGroups { (uid, it) =>
        val sorted = it.toIndexedSeq.sortBy(e =>
          (e._2.toEpochSecond(java.time.ZoneOffset.UTC), e._2.getNano, e._3))
        var s = 0.0
        var first = true
        sorted.iterator.map { e =>
          s = if (first) { first = false; e._4 } else alpha * e._4 + (1 - alpha) * s
          (uid, e._3, e._4, s)
        }
      }
      .toDF("user_id", "event_id", "value", "ewma")
  }

  /** PageRank over the event-type transition graph — weighted
    * centrality on the [[markovTransitions]] edges (which type is the
    * gravitational center of user flows): 20 fixed power iterations of
    * `rank ← (1−d)/N + d·Σ_in rank·P(edge)`, damping 0.85. The
    * DISTRIBUTED work is the one edges pass ([[markovTransitions]] —
    * a full log scan); the transition matrix itself is
    * |event-types|²-BOUNDED (≤ ~25 rows — a property of the schema,
    * not the corpus), so the iteration folds on the DRIVER over the
    * collected edge list: the same bounded-model contract as IVF
    * centroids and BPE rules, and ~2× faster than scheduling 5+
    * tiny-join jobs for state a register file holds (r12 verdict:
    * the per-round localCheckpoint loop was the board's most
    * scheduling-dominated query). Fixed iterations rather than a
    * convergence test so the oracle (the same 20 steps unrolled as
    * CTEs) is deterministic. Every node here has out-edges, and the
    * spec asserts both that premise and mass conservation —
    * dangling-mass redistribution is the one extension a general graph
    * needs. Driver inflow sums run in (src-name, dst-name) sorted
    * order; the oracle's per-node SUMs reduce in unspecified order, so
    * ~1-ulp cross-engine drift can compound over the 20 iterations;
    * round(4) output keeps the tie window ~1e-11 per node — emitting
    * raw doubles would WIDEN the exposure (the comparator's 9-dp canon
    * has a 1e4× denser boundary grid), the opposite trade-off from
    * q_ewma's bit-identical fold.
    */
  def pagerankEventTypes(spark: SparkSession, dir: String,
      iters: Int = 20, d: Double = 0.85): DataFrame = {
    import spark.implicits._
    val edges = markovTransitions(spark, dir)
      .select(col("prev_type").as("src"), col("cur_type").as("dst"),
        col("p").as("w"))
      .as[(String, String, Double)].collect()
      .sortBy(e => (e._1, e._2))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    // decimal-exact 1−d (Scala's binary 1 - 0.85 ≠ the SQL literal 0.15;
    // the oracle's 20 compounding iterations would drift visibly)
    val teleport = (BigDecimal(1) - BigDecimal(d.toString)).toDouble
    var ranks = nodes.map(_ -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val inflow = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      edges.foreach { case (src, dst, w) =>
        inflow(dst) = inflow.getOrElse(dst, 0.0) + ranks(src) * w
      }
      ranks = nodes.map(node =>
        node -> (teleport / n + d * inflow.getOrElse(node, 0.0))).toMap
    }
    nodes.toSeq.map(node => (node, ranks(node))).toDF("node", "rank")
      .select(col("node"), round(col("rank"), 4).as("rank"))
  }

  /** HITS hubs-and-authorities over the event-type transition graph —
    * Kleinberg's dual centrality on the [[markovTransitions]] edges,
    * weighted by exact integer transition counts: a(v) ← Σ_{u→v} h(u)·n,
    * h(u) ← Σ_{u→v} a(v)·n, each L1-normalized per half-step. The
    * companion readout to [[pagerankEventTypes]]: PageRank scores where
    * flows settle; HITS separates the DISPATCHING types (hubs — types
    * whose outflow feeds important destinations) from the ABSORBING
    * ones (authorities).
    *
    * Unlike pagerank's round-4 drift containment, every iteration here
    * is BIT-exact cross-engine: each product rounds to 9 dp and sums as
    * exact decimals (order-independent), the L1 total is the decimal
    * sum of those same terms, and the normalized score re-rounds to
    * 9 dp — so both engines compound the identical doubles through all
    * 8 iterations and the oracle replays them verbatim. The distributed
    * work is the one transition-count scan; the 16 half-steps fold on
    * the driver over the |event-types|²-bounded edge list (the pagerank
    * bounded-model contract).
    */
  def hitsEventTypes(spark: SparkSession, dir: String, iters: Int = 8): DataFrame = {
    import spark.implicits._
    import java.math.{BigDecimal => JBD, RoundingMode}
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    // the one distributed pass: exact integer transition counts — the
    // matrix is |event-types|²-bounded (≤ ~25 rows), so the 16
    // half-steps fold on the DRIVER (the pagerank bounded-model
    // contract; the per-round localCheckpoint loop scheduled 16 jobs
    // for register-file-sized state and was the board's slowest query
    // at 12.6 s quiet). Every value is BIT-identical to the old
    // distributed loop: round-9 terms via the same BigDecimal.valueOf
    // semantics Spark's ROUND uses, decimal sums exact and order-free.
    val edges = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("src", lag(col("event_type"), 1).over(w))
      .filter(col("src").isNotNull)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect()
      .sortBy(e => (e._1, e._2))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    def bd9(x: Double): JBD = JBD.valueOf(x).setScale(9, RoundingMode.HALF_UP)
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = nodes.map(_ -> 1.0).toMap
    def halfStep(scores: Map[String, Double], keyIsSrc: Boolean): Map[String, Double] = {
      val r9 = scala.collection.mutable.Map.empty[String, JBD]
      edges.foreach { case (src, dst, n) =>
        val (jk, gk) = if (keyIsSrc) (src, dst) else (dst, src)
        val term = bd9(scores(jk) * n.toDouble)
        r9(gk) = r9.getOrElse(gk, JBD.ZERO).add(term)
      }
      val t = r9.values.foldLeft(JBD.ZERO)(_ add _).doubleValue
      nodes.map(node =>
        node -> bd9(r9.get(node).map(_.doubleValue).getOrElse(0.0) / t).doubleValue)
        .toMap
    }
    (1 to iters).foreach { _ =>
      auth = halfStep(hub, keyIsSrc = true)  // a(v) = Σ h(u)·n(u,v)
      hub = halfStep(auth, keyIsSrc = false) // h(u) = Σ a(v)·n(u,v)
    }
    nodes.toSeq.map(n => (n, hub(n), auth(n))).toDF("node", "hub", "authority")
      .select(col("node"), round(col("hub"), 6).as("hub"),
        round(col("authority"), 6).as("authority"))
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * each user's events in (ts, event_id) order yield (previous type →
    * current type) bigrams; counts normalize to P(cur | prev) within
    * each predecessor. The sequence-flow verb behind "what do users do
    * after X" — one `lag` window partitioned by user (each user's
    * history sorts independently inside its shuffle partition; no
    * global order), then a map-side-combined count whose output is
    * |event types|², a constant — at 100 TB the only full-data work is
    * the one user-keyed exchange the window needs.
    */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val pairs = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type"), col("event_type").as("cur_type"))
    val counts = pairs.groupBy(col("prev_type"), col("cur_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("p", round(col("n") /
        sum(col("n")).over(Window.partitionBy(col("prev_type"))), 4))
      .select(col("prev_type"), col("cur_type"), col("n"), col("p"))
  }

  /** DIRECTLY-FOLLOWS PROCESS GRAPH — process mining's core artifact
    * (the α-algorithm's input): for every (src → dst) consecutive
    * event-type pair within a user's timeline, the transition count,
    * its share of all transitions, and the EXACT lower-median
    * transition latency in integer seconds — the bottleneck readout
    * ("purchase → error takes 40 minutes at the median") that turns
    * [[markovTransitions]]' probabilities into a performance map.
    *
    * The median rides the [[graft.operators.Stats.madOutliers]]
    * histogram selection: the cumulative window runs per edge over the
    * DISTINCT gap values (calendar-bounded — gaps are integer seconds
    * within the retention window), never over transition rows.
    */
  def processEdges(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.raw(spark, dir, "events")
    val ev = raw.select(col("user_id"), col("event_type"),
      Tables.micros(raw).as("us"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val edges = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("src"), col("next_type").as("dst"),
        expr("(next_us - us) div 1000000").as("gap_s"))
    val tot = edges.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    val grand = tot.agg(sum(col("n")).as("nt"))
    val hist = edges.groupBy(col("src"), col("dst"), col("gap_s"))
      .agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy(col("src"), col("dst")).orderBy(col("gap_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum", sum(col("c")).over(wc))
      .join(broadcast(tot), Seq("src", "dst"))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("src"), col("dst"), col("n"))
      .agg(min(col("gap_s")).as("median_gap_s"))
      .crossJoin(broadcast(grand))
      .select(col("src"), col("dst"), col("n").as("n_transitions"),
        col("median_gap_s"),
        round(col("n").cast("double") / col("nt").cast("double"), 6).as("share"))
  }

  /** DAU/MAU STICKINESS — the engagement ratio product teams track
    * daily ("what fraction of the monthly audience shows up today"):
    * per absolute day d, DAU = distinct users active on d, MAU =
    * distinct users active in the trailing 30-day window [d−29, d],
    * stickiness = DAU/MAU. The trailing-window distinct is computed
    * WITHOUT a sliding re-scan: each distinct (user, day) activity
    * fact projects presence onto the 30 target days it covers
    * (bounded ×30 explode on the DISTINCT relation, not the log) and
    * the window count is one groupBy — the standard bitmap-free exact
    * formulation that scales linearly in |user-days|.
    */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.raw(spark, dir, "events")
    val ud = raw.select(col("user_id"),
      Tables.microsDiv(raw, 86400000000L).as("day"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val mau = ud
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 29)).as("t_day"))
      .distinct()
      .groupBy(col("t_day")).agg(count(lit(1)).as("mau"))
    dau.join(mau, dau("day") === mau("t_day"))
      .select(col("day"), col("dau"), col("mau"),
        round(col("dau").cast("double") / col("mau").cast("double"), 6)
          .as("stickiness"))
  }

  /** MARKOV ENTROPY RATE — the information-theoretic summary of
    * [[markovTransitions]]: conditional entropy H(next|prev) =
    * Σ_p π(p) · H(next|prev=p) over the same per-user transition
    * stream, next to the marginal H(next); the gap between them is the
    * mutual information the previous event carries — "how predictable
    * is the next action" in one number (Shannon 1951's predictability
    * framing). All distributions come from exact integer transition
    * counts; each −p·ln(p) term rounds to 9 decimals and sums through
    * the DECIMAL(38,9) channel (ln is the accepted cross-engine
    * transcendental). The term relation is ≤ |types|² rows.
    */
  def entropyRate(spark: SparkSession, dir: String): DataFrame = {
    val b9 = org.apache.spark.sql.types.DecimalType(38, 9)
    def dd(c: Column) = c.cast("double")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val counts = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("cur_type"))
      .agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum(col("c")).as("nt"))
    val prevTot = counts.groupBy(col("prev_type")).agg(sum(col("c")).as("cp"))
    val curTot = counts.groupBy(col("cur_type")).agg(sum(col("c")).as("cn"))
    // H(next|prev) = Σ_pairs −(c/N)·ln(c/cp)
    val hCond = counts.join(broadcast(prevTot), Seq("prev_type"))
      .crossJoin(broadcast(tot))
      .select(round(-(dd(col("c")) / dd(col("nt"))) *
        log(dd(col("c")) / dd(col("cp"))), 9).cast(b9).as("t"))
      .agg(sum(col("t")).as("h_cond9"), count(lit(1)).as("n_pairs"))
    // H(next) = Σ_states −(cn/N)·ln(cn/N)
    val hNext = curTot.crossJoin(broadcast(tot))
      .select(round(-(dd(col("cn")) / dd(col("nt"))) *
        log(dd(col("cn")) / dd(col("nt"))), 9).cast(b9).as("t"),
        col("nt"))
      .groupBy(col("nt")).agg(sum(col("t")).as("h_next9"))
    hCond.crossJoin(hNext)
      .select(col("nt").as("n_transitions"), col("n_pairs").cast("int").as("n_pairs"),
        round(dd(col("h_cond9")), 6).as("h_cond"),
        round(dd(col("h_next9")), 6).as("h_next"),
        round(dd(col("h_next9")) - dd(col("h_cond9")), 6).as("mutual_info"))
  }

  /** Per-node triangle counts over the co-order part graph — the graph
    * clustering-coefficient verb (community density, recommendation
    * neighborhoods) on the market-basket graph lineitem induces: an edge
    * joins two parts co-ordered in ≥ `minSupport` orders (the support
    * threshold is the standard frequent-pair noise filter; it also keeps
    * the graph sparse as the fact table grows — singleton co-orders are
    * noise at any scale).
    *
    * The count uses DEGREE-ORDERED orientation: every edge points from
    * its lower-(degree, id) endpoint, wedges enumerate only around each
    * edge's low end, and a wedge (v, w) closes against the oriented edge
    * v→w. Each triangle materializes exactly once, and the wedge
    * fan-out is Σ deg_out² ≤ O(m^1.5) regardless of skew — a hub node's
    * edges all point INTO it, so it generates no wedges. Everything is
    * equi-joins: candidate generation and closure shuffle on node ids,
    * never an all-pairs product.
    */
  /** The graph tier's shared co-order edge list: part pairs co-ordered
    * in ≥ `minSupport` DISTINCT orders (an order listing the same part
    * on two lines is one co-order, not two), in canonical a < b order.
    *
    * Built by the BASKET formulation (r15): one groupBy(order) with a
    * collect_set collects each basket, pairs explode WITHIN the sorted
    * basket array, and one more aggregate counts supports — ONE
    * row-level shuffle where the former distinct + self-join + count
    * chain paid three (distinct by (ok, pk), then both join sides by
    * ok, then the pair aggregate). Per-order state is one basket —
    * TPC-H basket width is ≤ 7 lineitems and the general contract is
    * bounded basket width, the same bound the pair fan-out Σ w_i²
    * already assumed. Identical pairs and counts by construction
    * (array_sort(collect_set) enumerates exactly the distinct a < b
    * combinations the x.pk < y.pk join produced).
    *
    * localCheckpoint: the support-thresholded edge list is
    * arboricity-bounded and NARROW (two ids); every downstream branch
    * (degrees, orientation, wedges, peel/BFS rounds) re-derived the
    * whole build without the lineage cut — 15 lineitem scans in the
    * measured r15 before-plan of triangleCounts.
    */
  private[operators] def coOrderEdges(
      spark: SparkSession, dir: String, minSupport: Int): DataFrame =
    coOrderPairCounts(orderBaskets(spark, dir))
      .filter(col("w") >= minSupport)
      .select(col("a"), col("b"))
      .localCheckpoint()

  /** The basket relation behind every co-order consumer: each order's
    * sorted DISTINCT part set from one groupBy(l_orderkey) —
    * collect_set dedupes in the aggregate, so no separate distinct pass
    * ever runs. Per-order state is one basket (TPC-H width ≤ 7; the
    * general contract is bounded basket width).
    */
  private def orderBaskets(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))

  /** Co-order pair supports over the basket relation: pairs explode
    * WITHIN each sorted basket array in canonical a < b order, one
    * aggregate counts `w` = distinct orders containing both parts.
    * Identical pairs and counts to the former distinct + x.pk < y.pk
    * self-join chain by construction.
    */
  private def coOrderPairCounts(baskets: DataFrame): DataFrame =
    baskets
      .select(explode(expr(
        "flatten(transform(ps, (a, i) -> transform(slice(ps, i + 2, size(ps)), " +
          "b -> struct(a AS a, b AS b))))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("w"))

  def triangleCounts(spark: SparkSession, dir: String, minSupport: Int = 2): DataFrame = {
    val edges = coOrderEdges(spark, dir, minSupport)
    val deg = edges.select(col("a").as("v")).unionAll(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val aFirst = edges
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .withColumn("fwd", col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")))
    // oriented feeds three consumers (both wedge sides + the closure
    // probe); pin it so the degree joins run once
    val oriented = aFirst.select(
      when(col("fwd"), col("a")).otherwise(col("b")).as("src"),
      when(col("fwd"), col("b")).otherwise(col("a")).as("dst"),
      when(col("fwd"), col("db")).otherwise(col("da")).as("ddst"))
      .localCheckpoint()
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddst") < col("e2.ddst") ||
            (col("e1.ddst") === col("e2.ddst") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    // the closing edge v–w is oriented v→w because (deg, id) of v < w
    val tri = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Sequence-pattern matching over per-user event strings — the
    * MATCH_RECOGNIZE-lite verb (Spark has no native row-pattern
    * operator; the practical distributed form is exactly this): each
    * user's events compress to an ordered INITIALS string (one char
    * per event, (ts, event_id) order pinned by sorting the collected
    * structs — `collect_list` alone has no order guarantee), then any
    * regex runs over it. Here: did the user ever follow
    * view → … → click → … → purchase (the funnel as a PATTERN — the
    * reachability formulation `q_funnel` computes via joins; two
    * verbs, one semantic family). Per-user state is one user's
    * history, the same bound every per-user fold in this file
    * assumes; the regex is codegen'd per row on a |users|-sized
    * relation.
    */
  def sequencePattern(spark: SparkSession, dir: String,
      pattern: String = "v.*c.*p"): DataFrame =
    Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("i"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("i")))),
          x => x.getField("i")), "").as("seq"))
      .select(col("user_id"), col("n_events"),
        col("seq").rlike(pattern).as("matched"))

  /** Typed COGROUP of orders and events per customer — the
    * `KeyValueGroupedDataset.cogroup` surface (the typed dual of a
    * full-outer join): both sides arrive key-aligned as iterators and
    * the merge logic is arbitrary Scala, the shape for per-key
    * reconciliation that doesn't reduce to join+aggregate (sequence
    * alignment, custom conflation). Here the fold is deliberately
    * simple — per-key counts and exact cent totals from each side — so
    * the DuckDB oracle (two grouped aggregates full-outer joined)
    * pins the cogroup machinery itself. One co-partitioned exchange
    * pair on the key, per-key state = one customer's rows.
    */
  def cogroupCustomerActivity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables(spark, dir, "orders")
      .select(col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      .as[(Long, Long)]
    val events = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long)]
    orders.groupByKey(_._1).cogroup(events.groupByKey(_._1)) { (key, os, es) =>
      var no = 0L; var oc = 0L
      os.foreach { o => no += 1; oc += o._2 }
      var ne = 0L; var ec = 0L
      es.foreach { e => ne += 1; ec += e._2 }
      Iterator.single((key, no, oc, ne, ec))
    }.toDF("key_id", "n_orders", "order_cents", "n_events", "event_cents")
      .select(col("key_id"), col("n_orders"),
        (col("order_cents").cast("double") / 100).as("order_total"),
        col("n_events"),
        (col("event_cents").cast("double") / 100).as("event_total"))
  }

  /** Market-basket association rules over the co-order part graph:
    * support, confidence (both directions), and lift for every part pair
    * co-ordered in ≥ `minPairSupport` orders. The recommendation /
    * affinity verb on the same baskets [[triangleCounts]] mines — this
    * one keeps the RULE METRICS rather than the topology.
    *
    * Scale shape (r15): the BASKET formulation shared with
    * [[coOrderEdges]] — one groupBy(order) collects each sorted
    * distinct basket, pairs explode within the array, one aggregate
    * counts pair supports. ONE row-level shuffle and ONE lineitem scan
    * where the former Apriori-pruned self-join chain paid three
    * shuffles plus a second full scan for the countDistinct order
    * total (= the basket count). The item prune moves AFTER the pair
    * aggregate as an equivalent filter on the pair relation: the old
    * plan's prune-before-join was a join-ORDER device (a pair can never
    * out-support its rarest item), so filtering n_a/n_b on the
    * already-thresholded pair rows keeps the identical output for any
    * parameter values while the supports join touches only
    * pair-relation-sized data. Metric arithmetic is unchanged: integer
    * counts → mirrored double division, exact on both engines.
    */
  def associationRules(spark: SparkSession, dir: String,
      minItemSupport: Int = 3, minPairSupport: Int = 3): DataFrame = {
    val baskets = orderBaskets(spark, dir)
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val items = baskets.select(explode(col("ps")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
    val pairs = coOrderPairCounts(baskets)
      .withColumnRenamed("w", "n_ab")
      .filter(col("n_ab") >= minPairSupport)
      .join(items.select(col("pk").as("a"), col("n_item").as("n_a")), Seq("a"))
      .join(items.select(col("pk").as("b"), col("n_item").as("n_b")), Seq("b"))
      .filter(col("n_a") >= minItemSupport && col("n_b") >= minItemSupport)
    pairs.crossJoin(broadcast(nOrders)).select(
      col("a"), col("b"), col("n_a"), col("n_b"), col("n_ab"),
      round(col("n_ab").cast("double") / col("n_a"), 6).as("conf_a_b"),
      round(col("n_ab").cast("double") / col("n_b"), 6).as("conf_b_a"),
      round(col("n_ab").cast("double") * col("n_orders") /
        (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
  }

  /** DEGREE ASSORTATIVITY of the order–part incidence graph — the
    * Newman-2002 mixing coefficient answering "do big baskets carry
    * popular parts, or niche ones?": the Pearson correlation between
    * endpoint degrees (basket width, part popularity) taken over every
    * incidence edge. Negative r = disassortative (broad baskets pick
    * long-tail parts) — the structural bias every co-occurrence
    * recommender must correct for before reading lift.
    *
    * Degrees are exact integers from two map-side-combined counts over
    * the DISTINCT incidence relation; each degree joins back on its own
    * key (never a pair join), and the correlation reduces from six
    * exact BIGINT sums in one aggregate — at 100 TB the cost is the
    * distinct pass plus two |edges|-row key joins.
    */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val degO = li.groupBy(col("ok")).agg(count(lit(1)).as("x"))
    val degP = li.groupBy(col("pk")).agg(count(lit(1)).as("y"))
    li.join(degO, Seq("ok")).join(degP, Seq("pk"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("cnt").as("n_edges"),
        round(col("sx").cast("double") / col("cnt").cast("double"), 6)
          .as("mean_basket_width"),
        round(col("sy").cast("double") / col("cnt").cast("double"), 6)
          .as("mean_part_popularity"),
        pearsonFromSums(col("cnt"), col("sx"), col("sy"),
          col("sxy"), col("sxx"), col("syy")).as("assortativity"))
  }

  /** Six exact-integer-sum Pearson assembly shared with the Stats tier
    * (duplicated guard contract: NULL on zero variance — ANSI-safe).
    */
  private def pearsonFromSums(cnt: Column, sx: Column, sy: Column,
      sxy: Column, sxx: Column, syy: Column): Column = {
    def d(c: Column): Column = c.cast("double")
    val vx = d(cnt) * d(sxx) - d(sx) * d(sx)
    val vy = d(cnt) * d(syy) - d(sy) * d(sy)
    round(when(vx > 0 && vy > 0,
      (d(cnt) * d(sxy) - d(sx) * d(sy)) / (sqrt(vx) * sqrt(vy))), 6)
  }

  /** ITEM–ITEM COSINE / JACCARD similarity over co-order incidence —
    * the symmetric, popularity-normalized complement of
    * [[associationRules]]' directional confidence (confidence inflates
    * toward popular consequents; cosine co/√(nₐ·n_b) and Jaccard
    * co/(nₐ+n_b−co) are the neighborhood weights an item-based
    * collaborative-filtering recommender actually stores). Same basket
    * formulation as [[associationRules]] (r15): one groupBy(order)
    * shuffle builds the pairs, the item prune applies as the
    * output-identical filter on the thresholded pair relation, and
    * both similarities are one double expression over three exact
    * integers.
    */
  def itemCosine(spark: SparkSession, dir: String,
      minItemSupport: Int = 3, minPairSupport: Int = 3): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val baskets = orderBaskets(spark, dir)
    val items = baskets.select(explode(col("ps")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
    coOrderPairCounts(baskets)
      .withColumnRenamed("w", "n_ab")
      .filter(col("n_ab") >= minPairSupport)
      .join(items.select(col("pk").as("a"), col("n_item").as("n_a")), Seq("a"))
      .join(items.select(col("pk").as("b"), col("n_item").as("n_b")), Seq("b"))
      .filter(col("n_a") >= minItemSupport && col("n_b") >= minItemSupport)
      .select(col("a"), col("b"), col("n_a"), col("n_b"), col("n_ab"),
        round(dd(col("n_ab")) / (sqrt(dd(col("n_a"))) * sqrt(dd(col("n_b")))), 6)
          .as("cosine"),
        round(dd(col("n_ab")) /
          (dd(col("n_a")) + dd(col("n_b")) - dd(col("n_ab"))), 6).as("jaccard"))
  }

  /** BFS shortest-path distances (≤ `maxHops`) from the lowest-id node
    * of the co-order part graph — the k-hop neighborhood verb that
    * completes the graph tier (components = connectivity, triangles =
    * density, PageRank = centrality, BFS = reachability radius).
    *
    * Each round is one frontier ⋈ edges equi-join + a min-aggregate —
    * the per-round-shuffle label-propagation shape the dup-cluster code
    * established, with `localCheckpoint` truncating lineage per round.
    * Distances only ever shrink, so round i settles every node at
    * distance i: `maxHops` rounds, `maxHops` shuffles, nothing
    * quadratic. Edges materialize once (support ≥ 2 keeps them
    * arboricity-bounded like the triangle graph).
    */
  def khopDistances(spark: SparkSession, dir: String, maxHops: Int = 3): DataFrame = {
    // shared basket-built edge list (see [[coOrderEdges]]); mirrored
    // here because BFS walks both directions — the mirror is a cheap
    // map over the pinned relation, so no second pin is needed
    val undirected = coOrderEdges(spark, dir, 2)
    val edges = undirected.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(undirected.select(col("b").as("src"), col("a").as("dst")))
    val srcRow = edges.agg(min(col("src")).as("s")).head()
    if (srcRow.isNullAt(0)) // no co-order edges at all: empty graph, empty result
      return spark.range(0).select(col("id").as("part"), lit(0).as("dist"))
    val source = srcRow.getLong(0)
    // no checkpoint on the seed: it is a 1-row literal relation — the
    // former eager localCheckpoint was a full scheduled job to pin a
    // lineage that costs nothing to recompute
    var dist = spark.range(1).select(lit(source).as("part"), lit(0).as("dist"))
    (1 to maxHops).foreach { i =>
      val next = dist.join(edges, col("part") === col("src"))
        .select(col("dst").as("part"), lit(i).as("dist"))
      // LAZY checkpoint (r15): the logical plan still truncates to a
      // LogicalRDD per round (bounded analysis/codegen), but the rounds
      // materialize inside the consumer's single action instead of one
      // scheduled job per round — the persisted round RDD still serves
      // both next-round consumers (join + union)
      dist = dist.unionByName(next)
        .groupBy(col("part")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(false)
    }
    dist
  }

  /** OHLC bar resampling: per (event type, 15-minute bucket) — open and
    * close by (ts, event_id) order, high/low/volume/count — the
    * time-series downsampling verb behind every candlestick/telemetry
    * rollup. `min_by`/`max_by` over a (ts, event_id) STRUCT key keep
    * open/close in the same ONE map-side-combined aggregate as
    * high/low (O(1) state per bar, no per-bar sort, no window) — at
    * 100 TB each bar folds locally and merges, the same two-level
    * reduce as any hash aggregate. The oracle reaches the identical
    * rows through ROW_NUMBER windows — one verb, two plans, both
    * pinned to the same result.
    */
  def ohlcBars(spark: SparkSession, dir: String): DataFrame = {
    val key = struct(col("ts"), col("event_id"))
    Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("bar_hour"),
        (floor(minute(col("ts")) / 15) * 15).cast("int").as("bar_minute"))
      .agg(
        min_by(col("value"), key).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), key).as("close"),
        count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast("double").as("volume"))
  }

  /** Interval union by sweep-line: each event opens a `windowMinutes`
    * activity interval; per user, overlapping intervals MERGE and the
    * result is the number of merged islands and total covered seconds —
    * the "time actually active" verb (device uptime, ad exposure,
    * incident duration all reduce to it).
    *
    * The scalable formulation is the running-maximum sweep, not a
    * self-join: intervals sort per user, an island starts exactly where
    * a start exceeds the running max of previous ends, and the island id
    * is the running sum of those starts. One user-keyed exchange + sort
    * (both windows and the aggregate share it), state O(1) per row —
    * where the naive overlap SELF-JOIN explodes quadratically on dense
    * users and cannot merge transitive chains without iteration.
    * Arithmetic stays on integer MICRO-epoch longs (Tables.micros —
    * µs is the finest resolution both engines' parquet readers preserve,
    * so the oracle's `epoch_us` sees the same integers), making every
    * comparison and sum exact on both engines.
    */
  def intervalUnion(spark: SparkSession, dir: String, windowMinutes: Int = 15): DataFrame = {
    val us = windowMinutes * 60L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = Window.partitionBy(col("user_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val raw = Tables.raw(spark, dir, "events")
    val micros = Tables.micros(raw)
    raw
      .select(col("user_id"),
        micros.as("s"),
        (micros + us).as("e"))
      .withColumn("open", when(col("s") > max(col("e")).over(prev), 1)
        .otherwise(when(max(col("e")).over(prev).isNull, 1).otherwise(0)))
      .withColumn("island", sum(col("open")).over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("s")).as("is"), max(col("e")).as("ie"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        (sum(col("ie") - col("is")) / lit(1000000L)).as("covered_seconds"))
  }

  /** INTERVAL × INTERVAL overlap join — per user, every (view, click)
    * interval pair that overlaps in time, with the exact overlap length.
    * Intervals are variable-length (`60 + event_id mod 240` seconds — a
    * deterministic stand-in for per-event durations), so this is the
    * general two-sided overlap join, not a fixed-band range join
    * (`q_range_join` covers that shape).
    *
    * The scale plan is TIME-GRID BUCKETING, the temporal analog of
    * [[graft.operators.Geo]]'s cell join: each interval explodes to the
    * grid cells it touches (cell width ≥ max duration ⇒ at most 2
    * cells per interval), candidates come from one (user, cell)
    * equi-join — shuffle-partitioned, never all-pairs — and the exact
    * overlap predicate filters candidates map-side. A pair whose
    * overlap spans multiple shared cells would duplicate, so each pair
    * is COUNTED ONLY in the cell containing the overlap start
    * (`cell == floor(max(s_a, s_b) / W)`) — the standard grid-dedup
    * trick, cheaper than a distinct over pair ids. All arithmetic is
    * exact micro-epoch integers (the [[intervalUnion]] contract).
    */
  def intervalOverlapJoin(spark: SparkSession, dir: String): DataFrame = {
    val cellUs = 300L * 1000000L // ≥ max interval length (299 s)
    val raw = Tables.raw(spark, dir, "events")
    val micros = Tables.micros(raw)
    val iv = raw
      .filter(col("event_type").isin("view", "click"))
      .select(col("event_type"), col("user_id"), col("event_id"), micros.as("s"))
      .withColumn("e", col("s") + (pmod(col("event_id"), lit(240)) + 60) * 1000000L)
    def side(t: String, p: String): DataFrame = iv.filter(col("event_type") === t)
      .select(col("user_id"), col("event_id").as(s"${p}_id"),
        col("s").as(s"${p}_s"), col("e").as(s"${p}_e"))
      .withColumn("cell", explode(sequence(
        floor(col(s"${p}_s") / cellUs).cast("long"),
        floor(col(s"${p}_e") / cellUs).cast("long"))))
    side("view", "a").join(side("click", "b"), Seq("user_id", "cell"))
      .filter(col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
      .filter(col("cell") === floor(greatest(col("a_s"), col("b_s")) / cellUs).cast("long"))
      .select(col("user_id"), col("a_id"), col("b_id"),
        (least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s"))).as("overlap_us"))
  }

  /** LAST-TOUCH ATTRIBUTION — every purchase credits the user's most
    * recent preceding non-purchase event (the marketing-analytics
    * staple next to [[funnelConversion]]'s ordered funnel): one window
    * pass per user (`last(..., ignoreNulls)` over the strictly-
    * preceding frame, event_id tiebreak for equal timestamps), then a
    * channel-level rollup of conversion counts and attributed revenue.
    * A purchase with no prior touch is 'direct'. Scales as one shuffle
    * on user_id — per-user sorted streams, no self-join, state is the
    * single carried last-touch value.
    */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("conversions"),
        round(sum(col("value")), 2).as("attributed_value"))
  }

  /** POSITION-BASED (U-shaped) MULTI-TOUCH ATTRIBUTION — the
    * multi-touch sibling of [[lastTouchAttribution]]: each purchase's
    * value splits across EVERY touch in its journey (the non-purchase
    * events since the previous purchase), 40% to the first touch, 40%
    * to the last, 20% shared equally by the middles.
    *
    * The split is EXACT MONEY ARITHMETIC, not percentages of a double:
    * the purchase value becomes integer cents, each share is an integer
    * floor-division, and the remainder cents go to the first touch — so
    * every journey's credits sum to exactly its value and the
    * channel-level totals are order-independent BIGINTs (the same
    * largest-remainder allocation a billing system uses; a `0.2/k`
    * double split would drift by summation order across engines and
    * partitionings). k==1 → the only touch takes all; k==2 → an even
    * c÷2 / c−c÷2 split; no touches → 'direct'.
    *
    * Scales as ONE user-keyed exchange: journey ids and positions are
    * running windows over each user's sorted stream, the per-journey
    * (k, cents) rollup is |purchases|-sized, and the join back to
    * touches is on (user, journey) — never a self-join on the raw log.
    */
  def positionAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // journey id = number of purchases strictly before this row: touches
    // carry the id of the NEXT purchase; the purchase row itself keeps
    // the id of the journey it closes
    val jny = ev.withColumn("journey",
      coalesce(sum(when(col("event_type") === "purchase", 1L)).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val purchases = jny.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("journey"),
        (round(col("value") * 100)).cast("long").as("cents"))
    val touches = jny.filter(col("event_type") =!= "purchase")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("user_id"), col("journey")).orderBy(col("ts"), col("event_id"))))
      .withColumn("k", count(lit(1)).over(
        Window.partitionBy(col("user_id"), col("journey"))))
      .select(col("user_id"), col("journey"), col("event_type"), col("pos"), col("k"))
    val joined = purchases.join(touches, Seq("user_id", "journey"), "left")
    val c = col("cents")
    val f40 = ((c * 2 - pmod(c * 2, lit(5))) / 5).cast("long")
    val half = ((c - pmod(c, lit(2))) / 2).cast("long")
    val midEach = (((c - f40 * 2) - pmod(c - f40 * 2, col("k") - 2)) /
      (col("k") - 2)).cast("long")
    val credit = when(col("k").isNull, c) // no touches: all to 'direct'
      .when(col("k") === 1, c)
      .when(col("k") === 2 && col("pos") === 1, c - half)
      .when(col("k") === 2, half)
      .when(col("pos") === 1, f40 + (c - f40 * 2 - midEach * (col("k") - 2))) // + remainder
      .when(col("pos") === col("k"), f40)
      .otherwise(midEach)
    joined
      .groupBy(coalesce(col("event_type"), lit("direct")).as("channel"))
      .agg(sum(credit).cast("long").as("credit_cents"),
        count(lit(1)).as("n_credits"))
  }

  /** LOCAL CLUSTERING COEFFICIENT over the co-order part graph — the
    * per-node "how interconnected is my neighborhood" measure on top of
    * [[triangleCounts]]'s degree-ordered triangle machinery:
    * `coeff(v) = 2·tri(v) / (deg(v)·(deg(v)−1))`. Triangles enumerate
    * once via low-(degree,id)-oriented wedges (fan-out O(m^1.5),
    * hub-proof — a hub's edges all point into it), degrees are one
    * aggregation over the edge list, and the coefficient is ONE double
    * division of two exact integers, so the oracle matches bit-for-bit.
    * Output: every node of degree ≥ 2, its degree, triangle count, and
    * rounded coefficient.
    */
  def clusteringCoefficient(spark: SparkSession, dir: String, minSupport: Int = 2): DataFrame = {
    // shared basket-built, pinned edge list (see [[coOrderEdges]])
    val edges = coOrderEdges(spark, dir, minSupport)
    val deg = edges.select(col("a").as("v")).unionAll(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val aFirst = edges
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .withColumn("fwd", col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")))
    val oriented = aFirst.select(
      when(col("fwd"), col("a")).otherwise(col("b")).as("src"),
      when(col("fwd"), col("b")).otherwise(col("a")).as("dst"),
      when(col("fwd"), col("db")).otherwise(col("da")).as("ddst"))
      .localCheckpoint()
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddst") < col("e2.ddst") ||
            (col("e1.ddst") === col("e2.ddst") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    val tri = wedges.join(
        oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(explode(array(col("u"), col("v"), col("w"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_triangles"))
    deg.filter(col("d") >= 2)
      .join(tri, col("v") === col("part"), "left")
      .select(col("v").as("part"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
          (col("d") * (col("d") - 1)).cast("double"), 6).as("clustering_coeff"))
  }

  /** K-CORE DECOMPOSITION (fixed k, bounded peel) — the graph-
    * densification verb next to [[triangleCounts]] and [[khopDistances]]:
    * repeatedly delete nodes of degree < k until the residual graph is
    * stable; what survives is the k-core (unique regardless of peel
    * order). The loop runs a FIXED `rounds` iterations — each round one
    * degree aggregation + two semi-joins, all equi-joins on node ids —
    * so the oracle is the SAME bounded unroll (deterministic), and the
    * spec pins that the peel actually reached its fixpoint inside the
    * budget at test scale (round r−1 == round r). At 100 TB each round
    * is one shuffle over the shrinking edge list; the edge frame is
    * `localCheckpoint`ed between rounds — without it the iterative
    * lineage re-derives the base co-order join once PER DOWNSTREAM
    * BRANCH per round (two joins each round → exponential recompute;
    * measured: the unchecked loop never finishes at sf0.01, the
    * checkpointed one is seconds).
    *
    * Output: the k-core members with their WITHIN-CORE degree.
    */
  def kcore(spark: SparkSession, dir: String, k: Int = 3,
      rounds: Int = 6, minSupport: Int = 2): DataFrame = {
    // shared basket-built, pinned edge list (see [[coOrderEdges]])
    var edges = coOrderEdges(spark, dir, minSupport)
    for (_ <- 1 to rounds) {
      val keep = edges.select(col("a").as("v")).unionAll(edges.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("v"))
      // LAZY checkpoint (r15, the khop device): the logical plan still
      // truncates to a LogicalRDD per round, but the rounds materialize
      // inside the consumer's single action instead of one scheduled
      // job per round; the persisted round RDD serves the next round's
      // three consumers (degree aggregate + both semi-join probes)
      edges = edges
        .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(false)
    }
    edges.select(col("a").as("v")).unionAll(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("core_degree"))
  }

  /** RFM SEGMENTATION — the customer-base quintile grid every
    * marketing warehouse maintains: per customer, Recency (days from
    * last order to the corpus horizon), Frequency (order count) and
    * Monetary (exact whole-dollar spend, floor of the decimal sum), each
    * quintiled 1–5, then the (r,f,m) cells rolled up.
    *
    * Quintiles come from a DISTRIBUTED row number, not a global-sort
    * window: per-metric value-range slices (bounds broadcast from a
    * min/max aggregate) get their slice counts prefix-summed on the
    * |slices|-row relation, and each row's number is its slice base plus
    * a row_number within the slice — so no "partitionBy()" single-
    * reducer window ever sees the |customers| relation, the same
    * two-phase construction as the spearman rank histogram and the
    * distributed exact percentile. The quintile is then the explicit
    * `floor((rn−1)·5/n)+1` formula (NOT ntile — ntile front-loads the
    * odd rows; the formula spreads them, and both engines compute it
    * identically from the same integer rn). Ties break on c_custkey, so
    * rn is total-ordered and cross-engine identical.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val horizon = to_date(lit("1998-12-31"))
    val cust = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        datediff(horizon, max(col("o_orderdate")).cast("date"))
          .cast("long").as("recency"),
        count(lit(1)).as("frequency"),
        floor(sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2))))
          .cast("long").as("monetary"))
    val n = cust.agg(count(lit(1)).as("n_cust"))

    // distributed row number of (metric, custkey): slice bases + within-
    // slice row_number. ONE machinery for all three metrics (r15): the
    // metrics unpivot to (ck, m, v) rows (a stack Expand inside the one
    // pass — the q_quantile_grid device), bounds/bases/windows key on
    // (m, pid) instead of running the whole chain three times, and the
    // three ranks pivot back per customer. Per-metric ranks are
    // IDENTICAL by construction: bounds, slice ids, slice bases and the
    // (v, ck)-ordered within-slice row_number all partition by m.
    val slices = 32
    val longm = cust.selectExpr("o_custkey AS ck",
      "stack(3, 'recency', recency, 'frequency', frequency, 'monetary', monetary) AS (m, v)")
    val bounds = longm.groupBy(col("m"))
      .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val withPid = longm.join(broadcast(bounds), Seq("m"))
      .withColumn("pid",
        when(col("vmax") === col("vmin"), lit(0)).otherwise(
          least(floor((col("v") - col("vmin")).cast("double") * slices /
            (col("vmax") - col("vmin")).cast("double")), lit(slices - 1))).cast("int"))
    val bases = withPid.groupBy(col("m"), col("pid")).agg(count(lit(1)).as("c"))
      .withColumn("base", coalesce(sum(col("c")).over(
        Window.partitionBy(col("m")).orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("m"), col("pid"), col("base"))
    val ranks = withPid.join(broadcast(bases), Seq("m", "pid"))
      .withColumn("rn", col("base") + row_number().over(
        Window.partitionBy(col("m"), col("pid")).orderBy(col("v"), col("ck"))))
      .groupBy(col("ck").as("o_custkey"))
      .agg(max(when(col("m") === "recency", col("rn"))).as("rn_recency"),
        max(when(col("m") === "frequency", col("rn"))).as("rn_frequency"),
        max(when(col("m") === "monetary", col("rn"))).as("rn_monetary"))

    val q = (rnCol: Column, nCol: Column) =>
      (((rnCol - 1) * 5 - pmod((rnCol - 1) * 5, nCol)) / nCol + 1).cast("int")
    cust
      .join(ranks, Seq("o_custkey"))
      .crossJoin(broadcast(n))
      .select(
        q(col("rn_recency"), col("n_cust")).as("r_q"),
        q(col("rn_frequency"), col("n_cust")).as("f_q"),
        q(col("rn_monetary"), col("n_cust")).as("m_q"),
        col("monetary"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("monetary")).as("total_monetary"))
  }

  /** TIME-TO-CONVERT QUANTILES — the funnel-latency readout next to
    * [[funnelConversion]]'s rate: for users whose first purchase
    * follows their first signup, EXACT p50/p90/p99 of the signup→
    * purchase gap in hours. The gap axis is CALENDAR-BOUNDED (hours,
    * not users), so the distribution collapses to a tiny
    * (gap → count) histogram; order statistics are pure integer
    * arithmetic — `k = ⌈num·n/den⌉` with the quantile as an exact
    * rational, answered as the smallest gap whose cumulative count
    * reaches k. No per-user sort ever happens: users aggregate once,
    * everything after is histogram-sized.
    */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raw = Tables.raw(spark, dir, "events")
    val micros = Tables.micros(raw)
    val perUser = raw
      .select(col("user_id"), col("event_type"), micros.as("us"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("us"))).as("ts"),
        min(when(col("event_type") === "purchase", col("us"))).as("tp"))
      .filter(col("ts").isNotNull && col("tp").isNotNull && col("tp") >= col("ts"))
    val gaps = perUser.select(
      ((col("tp") - col("ts") - pmod(col("tp") - col("ts"), lit(3600000000L)))
        / lit(3600000000L)).cast("long").as("gap"))
    val hist = gaps.groupBy(col("gap")).agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum", sum(col("c")).over(
      Window.orderBy(col("gap"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val total = gaps.agg(count(lit(1)).as("n_users"))
    val qs = Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))
      .toDF("quantile", "num", "den")
    cum.crossJoin(broadcast(total))
      .crossJoin(broadcast(qs))
      .withColumn("k", expr("(num * n_users + den - 1) div den"))
      .filter(col("cum") >= col("k"))
      .groupBy(col("quantile"), col("n_users"), col("k"))
      .agg(min(col("gap")).as("gap_hours"))
  }

  /** TOP ONBOARDING PATHS — the first-k-events path table every
    * product-analytics tool leads with ("what do users actually do
    * first?"), and the full-prefix complement of [[markovTransitions]]'
    * bigram view: each user's first `k` events (by (ts, event_id) — a
    * total order, so ties cannot flip paths between engines) join into
    * one `a > b > c` path string; the top `topN` paths rank by
    * (count desc, path asc).
    *
    * Scale shape: the per-user window is bounded by a user's own
    * events; the path relation collapses to ≤ |event types|^k distinct
    * DOMAIN-bounded rows before the top-N window touches it. One scan,
    * one user-keyed shuffle, one tiny ranking.
    */
  def userPaths(spark: SparkSession, dir: String, k: Int = 3, topN: Int = 10): DataFrame = {
    val raw = Tables.raw(spark, dir, "events")
    val micros = Tables.micros(raw)
    val ev = raw.select(col("user_id"), col("event_type"),
      micros.as("us"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val first = ev.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    val paths = first.groupBy(col("user_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), " > ").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
    val rankW = Window.orderBy(col("n_users").desc, col("path").asc)
    paths.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= topN)
      .select(col("rank").cast("int").as("rank"), col("path"), col("n_users"))
  }
}
