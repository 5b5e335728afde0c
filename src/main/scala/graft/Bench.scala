package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Driver-run benchmark: times every `SparkEntry.queries` entry at
  * `SPARK_GRAFT_SF_DIR` and prints two bare JSON lines on stdout
  * (build.sbt's StdoutOutput keeps sbt from prefixing them):
  *
  *   1. a LONG detail line with per-query median timings (`queries`),
  *      per-query spreads (`runs` omitted to stay line-bounded) and
  *      error messages — useful to humans, may be tail-truncated by
  *      the driver;
  *   2. a SHORT summary line — `{"metric":"total",...}` — printed
  *      LAST so it survives the driver's tail truncation (rounds 1-3
  *      produced `parsed: null` because the total sat at the head of
  *      the one long line).
  *
  * Each query runs `SPARK_GRAFT_REPS` times (default 3) and reports
  * the MEDIAN: single-shot numbers on this host swing up to ±7× on
  * identical binaries (r2→r3 evidence in VERDICT.md). A failed query
  * is reported as -1 and listed in `errors` instead of being silently
  * timed as a fast pass.
  *
  * Load normalization (VERDICT r5): absolute totals on this host swing
  * ±50% with background load, so the summary co-measures a PINNED
  * calibration workload — a fixed lineitem scan-aggregate whose code
  * never changes across rounds — in the same process, interleaved
  * every ~16 queries so both see the same load profile AND a per-query
  * load spike is attributable from `calib_runs` without re-running.
  * `calib` (its median) is a pure host-speed probe; `norm_ratio` =
  * total/calib is the load-invariant number to trend across rounds:
  * code regressions move it, host load largely cancels out of it.
  * `spread_10_slowest` gives per-rep [min,max] for the costliest
  * queries — a spike shows as one wild rep over a normal min, a real
  * regression moves the min itself.
  *
  * Tier isolation (r14): the q_stream_* queries run as a DEDICATED
  * tail pass after every batch query, with their own calibration
  * probes; the summary carries `calib_batch`/`calib_stream` and
  * `norm_ratio_batch`/`norm_ratio_stream`. The stream tier is
  * trigger-clocked micro-batch machinery — wall-clock-bound and
  * constant in data size (`stream_wall_bound: true`) — so
  * `norm_ratio_batch` is the scan-path adjudication number and stream
  * spikes can no longer contaminate it.
  *
  * The harness helpers below (`force`, `median`, the calibration timing,
  * the warm-up, the failure text and the `SPARK_GRAFT_ONLY` subset
  * filter) are the one copy Verify, ScaleBench and Explain share.
  */
object Bench {
  import JsonText.{quote => jstr}

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) -1.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private[graft] def r4(x: Double): Double = math.rint(x * 10000) / 10000

  /** Force a full materialization of every output column through the
    * noop sink. `.count()` is NOT a valid benchmark driver: Catalyst
    * prunes everything order- and column-irrelevant beneath an
    * Aggregate(count) — a global sort is eliminated outright
    * (EliminateSorts) and computed projections never run
    * (ColumnPruning), so count() times a bare scan-count for exactly
    * the queries whose work the bench exists to measure. The noop sink
    * consumes every row with all output columns and discards them —
    * full execution, no driver transfer, no disk.
    */
  private[graft] def force(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** The calibration probe: one wide parquet scan + hash aggregate over
    * lineitem, all aggregate columns materialized via [[force]]. DO NOT
    * CHANGE IT — cross-round comparability of `norm_ratio` depends on
    * this workload staying byte-identical.
    */
  private[graft] def calibrationProbe(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    force(spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("q"), sum(col("l_extendedprice")).as("p"),
        avg(col("l_discount")).as("d"), count(lit(1)).as("n")))
  }

  /** Times one [[calibrationProbe]] into `times`; a failed probe adds no
    * time, so the calibration median sees only completed probes.
    */
  private[graft] def runCalib(spark: SparkSession, sfDir: String, times: mutable.Buffer[Double]): Unit = {
    val t0 = System.nanoTime()
    try { calibrationProbe(spark, sfDir); times += (System.nanoTime() - t0) / 1e9 }
    catch { case _: Throwable => () }
  }

  /** JIT/codegen warm-up so startup cost isn't billed to the first
    * timed query.
    */
  private[graft] def warmUp(spark: SparkSession): Unit =
    try force(SparkEntry.entry(spark)) catch { case _: Throwable => () }

  /** How a failed query is reported: exception class and message, capped
    * at `max` chars because the texts land in one-line JSON.
    */
  private[graft] def failure(e: Throwable, max: Int = 300): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(max)

  /** Wall seconds of up to `reps` forced runs of `build`. The first
    * failure goes into `errors` and ends the runs, and a name already in
    * `errors` is not run again: a failed query is reported (as -1 by the
    * callers), never timed as a fast pass.
    */
  private[graft] def timeReps(name: String, reps: Int, errors: mutable.Map[String, String])
      (build: => DataFrame): Seq[Double] =
    (1 to reps).flatMap { _ =>
      if (errors.contains(name)) None
      else {
        val t0 = System.nanoTime()
        try { force(build); Some((System.nanoTime() - t0) / 1e9) }
        catch {
          case e: Throwable =>
            errors(name) = failure(e)
            System.err.println(s"[bench] $name FAILED")
            e.printStackTrace()
            None
        }
      }
    }

  /** The subset of `universe` a run asks for, in `universe` order, or
    * None when it asks for none. Verify, Bench and ScaleBench take it
    * from `SPARK_GRAFT_ONLY=q_a,q_b` (a dev-loop knob: the full surface
    * runs when it is unset); Explain from its arguments. A name outside
    * `universe` fails the run before any work: a typo'd subset would
    * otherwise run nothing and exit green (ADVICE r08).
    */
  private[graft] def only(universe: Seq[String],
      requested: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq))
      : Option[Seq[String]] = requested.map { names =>
    val unknown = names.toSet -- universe
    require(unknown.isEmpty,
      s"names not among this run's queries: ${unknown.toSeq.sorted.mkString(", ")}")
    universe.filter(names.toSet)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val queries = SparkEntry.queries
    val all = SparkEntry.registry.map(_.name)
    val names = only(all).getOrElse(all)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    warmUp(spark)
    // also warm the calibration probe's codegen
    try calibrationProbe(spark, sfDir) catch { case _: Throwable => () }
    val calibTimes = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.LinkedHashMap.empty[String, String]
    // TIER ISOLATION (VERDICT r13 #2): the ~25 q_stream_* queries are
    // trigger-clocked micro-batch machinery — constant in data size,
    // wall-clock-bound — and have contaminated batch adjudication in
    // three consecutive driver benches. Run ALL batch queries first,
    // then the stream tier as a dedicated tail pass, each tier with its
    // own calibration probes and its own norm line in the summary.
    val (streamQs, batchQs) = names.partition(SparkEntry.streamTier)
    // probe host speed every ~16 queries (the probe costs ~0.4 s) so a
    // load spike hitting one query's reps is visible in calib_runs and
    // the calibration median sees the sweep's whole load profile — one
    // start/middle/end triple proved too sparse to attribute per-query
    // anomalies (VERDICT r6 on q_range_join)
    def sweep(tier: Seq[String]): (Seq[(String, Seq[Double])], Seq[Double]) = {
      val probesBefore = calibTimes.length
      val raw = tier.zipWithIndex.map { case (name, i) =>
        if (i % 16 == 0) runCalib(spark, sfDir, calibTimes)
        name -> timeReps(name, reps, errors)(queries(name)(spark, sfDir))
      }
      runCalib(spark, sfDir, calibTimes)
      (raw, calibTimes.drop(probesBefore).toSeq)
    }
    val (batchRaw, batchProbes) = sweep(batchQs)
    val (streamRaw, streamProbes) = sweep(streamQs)
    val rawTimes = batchRaw ++ streamRaw
    val results = rawTimes.map { case (k, ts) => k -> median(ts) }
    val qs = results.map { case (k, v) =>
      s"${jstr(k)}:${if (errors.contains(k)) -1.0 else v}"
    }.mkString("{", ",", "}")
    val ok = results.filter { case (k, _) => !errors.contains(k) }
    val total = ok.map(_._2).sum
    val streamSub = ok.collect { case (k, v) if streamQs.contains(k) => v }.sum
    val batchSub = total - streamSub
    val calib = median(calibTimes.toSeq)
    val normRatio = if (calib > 0) total / calib else -1.0
    val errJson = errors.map { case (k, m) => s"${jstr(k)}:${jstr(m)}" }.mkString("{", ",", "}")
    // per-rep [min,max] for the 10 slowest queries: a load spike shows as
    // one wild rep around a normal min; a real regression moves the min
    val spreadJson = ok.sortBy(-_._2).take(10).map { case (k, _) =>
      val ts = rawTimes.find(_._1 == k).get._2
      s"${jstr(k)}:[${r4(ts.min)},${r4(ts.max)}]"
    }.mkString("{", ",", "}")
    // per-query CALIB-NEIGHBORED normalization: each query's median
    // divided by the mean of its two adjacent calib probes (the probe
    // before its 16-block and the one after), so a load spike that hits
    // one stretch of the sweep normalizes out per query instead of
    // contaminating the whole total (VERDICT r12: the r12 driver bench
    // was unreadable for exactly this reason). Probes are PER TIER now;
    // falls back to the global calib median if a tier's probe count
    // doesn't align (a probe failed mid-sweep).
    def tierNormQ(raw: Seq[(String, Seq[Double])], probes: Seq[Double]): Seq[(String, Double)] = {
      val expected = raw.indices.count(_ % 16 == 0) + 1
      val aligned = probes.length == expected
      raw.zipWithIndex.map { case ((k, ts), i) =>
        val c =
          if (!aligned) calib
          else {
            val a = probes(i / 16)
            val b = probes.lift(i / 16 + 1).getOrElse(a)
            (a + b) / 2.0
          }
        val v = median(ts)
        k -> (if (errors.contains(k) || c <= 0) -1.0 else r4(v / c))
      }
    }
    val normQJson = (tierNormQ(batchRaw, batchProbes) ++ tierNormQ(streamRaw, streamProbes))
      .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    // long human/detail line first (may be truncated by the driver, which
    // keeps line TAILS — norm_q/spread/calib_runs sit at the end to
    // survive)...
    println(s"""{"metric":"detail","reps":$reps,"queries":$qs,"errors":$errJson,"norm_q":$normQJson,"spread_10_slowest":$spreadJson,"calib_runs":${calibTimes.map(r4).mkString("[", ",", "]")},"sf":${jstr(sfDir)}}""")
    // ...short machine line LAST so tail truncation can't eat it.
    // norm_ratio = total / calib is the load-invariant cross-round trend
    // (the calibration workload is pinned — see `calibrationProbe` above).
    // Per-tier norm lines (VERDICT r13 #2): norm_ratio_batch is THE
    // scan-path adjudication number; the stream tier is trigger-clocked
    // (wall-clock-bound, constant in data) and carries its own
    // norm_ratio_stream + stream_wall_bound flag so it never again
    // contaminates batch adjudication.
    val calibBatch = median(batchProbes)
    val calibStream = median(streamProbes)
    val normBatch = if (calibBatch > 0) batchSub / calibBatch else -1.0
    val normStream = if (calibStream > 0) streamSub / calibStream else -1.0
    println(s"""{"metric":"total","value":${r4(total)},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"reps":$reps,"batch_subtotal":${r4(batchSub)},"stream_subtotal":${r4(streamSub)},"calib":${r4(calib)},"norm_ratio":${r4(normRatio)},"calib_batch":${r4(calibBatch)},"calib_stream":${r4(calibStream)},"norm_ratio_batch":${r4(normBatch)},"norm_ratio_stream":${r4(normStream)},"stream_wall_bound":true,"sf":${jstr(sfDir)}}""")
    spark.stop()
    // a failed query must fail the RUN: rc=0 with n_errors>0 let the r9
    // DML breakage land looking green (ADVICE r09). Exit AFTER both JSON
    // lines print so the driver still records the partial numbers.
    if (errors.nonEmpty) sys.exit(1)
  }
}
