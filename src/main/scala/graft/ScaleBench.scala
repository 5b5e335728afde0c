package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Data-dominated scale proof (VERDICT r6 #1): the sf0.1 bench measures
  * mostly per-query fixed cost (scheduling, codegen, micro-batch
  * machinery), so it cannot distinguish "scales linearly" from "constant
  * overhead". This main self-replicates the sf0.1 tables `factor`× into a
  * work dir and times the data-dominated queries (the registry's `scale`
  * entries, each with its reason) at 1× and factor×, interleaved pairwise
  * with the same pinned calibration probe Bench uses, printing per-query
  * ratios. ~`factor`× growth (or less, as
  * fixed cost amortizes) on rising data is the empirical evidence behind
  * PLANS.md's 100 TB projections.
  *
  * Replication must not manufacture pathological self-similarity — 10
  * byte-identical copies of every document would turn near-dup queries
  * into |copies|² pair explosions that say nothing about engine scaling
  * (real 10× corpora are 10× more DISTINCT data). So each replica is
  * decorrelated, preserving per-row size and distribution shape:
  *  - lineitem: `l_orderkey` offset per replica (columns used by the
  *    scan/agg/sort queries are key-independent);
  *  - documents: `doc_id` offset + per-replica affine letter
  *    substitution, distinct for factor ≤ 312 (byte/length/entropy
  *    distributions survive; shingles and MinHash signatures
  *    decorrelate, so near-dup structure per replica matches the
  *    original's);
  *  - embeddings: `vec_id` offset + per-replica circular shift ∘
  *    sign-flip diagonal of the vector dims (orthogonal transforms:
  *    intra-replica geometry is EXACTLY preserved, cross-replica
  *    cosines decorrelate, distinct for factor < dim·2²⁰);
  *  - events: `event_id`/`user_id` offsets — replica users are new
  *    users, so per-user session/funnel structure is preserved while
  *    user-partition fan-out grows with the factor.
  *
  * Every target runs its `SparkEntry.queries` entry unmodified.
  * q_ann_selfjoin and q_knn_graph follow their own documented scale
  * path there: `bitsPerTable` grows with log2(corpus) so LSH bucket
  * occupancy stays constant — the knob a real deployment turns as the
  * corpus grows (see `Similarity.annSelfJoin`).
  *
  * `SPARK_GRAFT_ONLY=q_a,q_b` restricts the sweep to those targets, as
  * for Bench and Verify. A failed query is reported as -1 and listed in
  * `errors`, and fails the run once the `scale` line has printed.
  */
object ScaleBench {
  import Bench.{median, r4}
  import JsonText.{quote => jstr}

  /** Decorrelated `factor`× replication of the four tables the
    * data-dominated queries read. Idempotent via a marker file (version
    * suffix v3: v2 replicas collapsed above factor 26/64, below). Any
    * marker from a DIFFERENT factor is deleted before regenerating, so
    * exactly one marker ever exists — re-running a factor used earlier
    * in the same workDir regenerates instead of silently benchmarking
    * the other factor's tables (r7 review).
    */
  // affine-cipher multipliers coprime to 26: 12 × 26 offsets = 312
  // distinct document substitutions (see the documents block below)
  private val coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  def replicate(spark: SparkSession, sfDir: String, outDir: String, factor: Int): Unit = {
    require(factor <= coprimes.length * 26,
      s"document decorrelation supports factor ≤ ${coprimes.length * 26}, got $factor")
    // v5: replica set gained customer.parquet (q_cbo_native sweep)
    val marker = new java.io.File(s"$outDir/_SCALE_READY_v5_$factor")
    if (marker.exists()) return
    Option(new java.io.File(outDir).listFiles())
      .foreach(_.filter(_.getName.startsWith("_SCALE_READY")).foreach(_.delete()))

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val okSpan = li.agg(max(col("l_orderkey"))).collect()(0).getLong(0) + 1
    (0 until factor).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * okSpan))
        // decorrelate the price value DOMAIN too (+i cents): replica
        // prices would otherwise duplicate byte-identically, freezing
        // |distinct values| — which would understate the growth of
        // value-histogram passes (q_spearman's rank tables) at real
        // 10× data. Distribution shape survives; scale runs only time,
        // never cross-compare values between factors.
        .withColumn("l_extendedprice", col("l_extendedprice") + lit(i * 0.01))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    // orders: replica customers are NEW customers offset by the EVENTS
    // user span (below), preserving the orders.custkey ↔ events.user_id
    // overlap the cogroup verb joins on
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
    val ordSpan = ord.agg(max(col("o_orderkey"))).collect()(0).getLong(0) + 1
    val evForSpan = spark.read.parquet(s"$sfDir/events.parquet")
    val custSpan = math.max(
      ord.agg(max(col("o_custkey"))).collect()(0).getLong(0),
      evForSpan.agg(max(col("user_id"))).collect()(0).getLong(0)) + 1
    (0 until factor).map { i =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * ordSpan))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custSpan))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    // customer: replicated on the SAME custSpan offset as orders, so
    // replica r's o_custkey ↔ c_custkey FK overlap is exactly the
    // original's (q_cbo_native's 3-table join keeps its selectivity at
    // every factor)
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    (0 until factor).map { i =>
      cust.withColumn("c_custkey", col("c_custkey") + lit(i * custSpan))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val docSpan = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1
    val lower = "abcdefghijklmnopqrstuvwxyz"
    // per-replica AFFINE substitution j → (a·j + b) mod 26 with a coprime
    // to 26: 12 multipliers × 26 offsets = 312 distinct ciphers (a plain
    // Caesar rot = i % 26 repeats texts byte-identically past factor 26,
    // reintroducing the |copies|² near-dup pathology at the recorded
    // factor-100 runs; r7 review). Identity at i = 0; distinct for
    // factor ≤ 312 — guarded at entry rather than silently collapsing.
    (0 until factor).map { i =>
      val a = coprimes((i / 26) % coprimes.length)
      val b = i % 26
      val mapped = (0 until 26).map(j => lower((a * j + b) % 26)).mkString
      docs
        .withColumn("doc_id", col("doc_id") + lit(i * docSpan))
        .withColumn("text",
          if (i == 0) col("text")
          else translate(col("text"), lower + lower.toUpperCase,
            mapped + mapped.toUpperCase))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val vecSpan = emb.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).limit(1).collect()(0).getInt(0)
    (0 until factor).map { i =>
      // circular shift composed with a ±1 diagonal — both orthogonal, so
      // intra-replica geometry is EXACTLY preserved. The shift alone
      // cycles with period `dim` (replicas i and i+dim were identical at
      // factor 100 with dim 64; r7 review); the sign mask is the binary
      // expansion of r = i / dim tiled over the first 20 dims, distinct
      // for every r < 2²⁰ → distinct transforms for factor < dim·2²⁰.
      val shift = (i * 13) % dim
      val r = i / dim
      val shifted =
        if (shift == 0) col("embedding")
        else concat(slice(col("embedding"), shift + 1, dim - shift),
          slice(col("embedding"), 1, shift))
      val signs = (0 until dim).map(j => if (((r >> (j % 20)) & 1) == 1) -1.0f else 1.0f)
      emb
        .withColumn("vec_id", col("vec_id") + lit(i * vecSpan))
        .withColumn("embedding",
          if (r == 0) shifted
          else zip_with(shifted, array(signs.map(lit(_)): _*), (x, s) => x * s))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // events: replica users are NEW users (user_id offset), so per-user
    // session/funnel structure inside each replica matches the original
    // exactly while total user count — and with it the window/shuffle
    // fan-out — grows with the factor (ts passes through in its storage
    // type; Tables normalizes at read)
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val evSpan = ev.agg(max(col("event_id"))).collect()(0).getLong(0) + 1
    // user offset = the SHARED custSpan (computed with orders above) so
    // replica r's events.user_ids equal replica r's orders.o_custkeys —
    // the cogroup/stream-static key overlap survives replication
    (0 until factor).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i * evSpan))
        .withColumn("user_id", col("user_id") + lit(i * custSpan))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    marker.createNewFile()
    ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft-scale")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // q_percentiles (the buffering twin) is MEASURED to OOM the JVM at
    // 100× (BASELINE.md) — that demonstration is q_percentiles_dist's
    // reason to exist, but it must not kill an unattended full sweep;
    // an explicit SPARK_GRAFT_ONLY still runs it at any factor
    val skipAtScale = if (factor > 10) Set("q_percentiles") else Set.empty[String]
    val targets = SparkEntry.registry.filter(_.scale).map(_.name)
    val names = Bench.only(targets).getOrElse(targets.filterNot(skipAtScale))
    val queries = SparkEntry.queries
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    replicate(spark, sfDir, workDir, factor)

    // warm JIT/codegen paths on the small side before timing anything
    Bench.warmUp(spark)

    val calibTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def time(name: String, dir: String): Double =
      median(Bench.timeReps(name, reps, errors)(queries(name)(spark, dir)))

    val rows = names.map { name =>
      Bench.runCalib(spark, sfDir, calibTimes)
      val t1 = time(name, sfDir)
      val tN = time(name, workDir)
      (name, t1, tN)
    }
    Bench.runCalib(spark, sfDir, calibTimes)
    val oneX = rows.map { case (n, t1, _) => s"${jstr(n)}:${r4(t1)}" }.mkString("{", ",", "}")
    val nX = rows.map { case (n, _, tN) => s"${jstr(n)}:${r4(tN)}" }.mkString("{", ",", "}")
    val ratio = rows.map { case (n, t1, tN) =>
      s"${jstr(n)}:${r4(if (t1 > 0 && tN > 0) tN / t1 else -1)}"
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, m) => s"${jstr(k)}:${jstr(m)}" }.mkString("{", ",", "}")
    println(s"""{"metric":"scale","factor":$factor,"reps":$reps,"t_1x":$oneX,"t_${factor}x":$nX,"ratio":$ratio,"errors":$errJson,"calib_runs":${calibTimes.map(r4).mkString("[", ",", "]")},"calib":${r4(median(calibTimes.toSeq))},"sf":${jstr(sfDir)}}""")
    spark.stop()
    // like Bench: a failed query fails the run, after the line prints
    if (errors.nonEmpty) sys.exit(1)
  }
}
