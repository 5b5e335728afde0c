package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.SpreadAggregator
import graft.operators.{Analytics, Cbo, CountMin, Dedup, HllPortable, Drift, Geo, Multimodal, Quality, Quantization, Relational, RetrievalEval, Similarity, Skew, SqlDml, Stats, TextAnalysis}
import graft.pipeline.FanPipeline
import graft.sources.{CountryLut, Roundtrip}
import graft.streaming.Streaming

/** One registered query: how to build it, and every fact the drivers and
  * suites keep about it.
  *
  * @param name           the query's name in every manifest and report
  * @param build          the DataFrame program over an sf dir's tables
  * @param oracle         DuckDB SQL over the same parquet tables, which
  *                       `tools/compare_oracle.py` hash-compares against
  *                       the dump; None means rows-only (see [[SparkEntry]])
  * @param cautionaryTwin set on a deliberately kept CAUTIONARY plan: correct
  *                       (it shares its oracle bit-for-bit with the twin)
  *                       but with a partitioning that does NOT survive
  *                       scale, kept so the scale story is measurable, not
  *                       asserted. The twin is the production-plan sibling
  *                       a reader should run at scale. Verify writes these
  *                       pairs to query_meta.json next to the manifest.
  * @param scale          a data-dominated query: ScaleBench times it at 1×
  *                       and factor× (each reads only the dir it is given;
  *                       q_ann_selfjoin and q_knn_graph self-scale their
  *                       bits knob from the corpus they see)
  * @param eager          the build itself runs Spark jobs. Every stream
  *                       replay's build does too and is not flagged: it is
  *                       known by [[SparkEntry.streamTier]]. PlanShapeSpec
  *                       leaves both kinds to their own suites
  * @param bnlj           a BroadcastNestedLoopJoin is the designed shape: a
  *                       handful of broadcast rows (query vectors, a 1-row
  *                       total) against the corpus scan
  * @param mayBeEmpty     no rows is a correct answer at sf0.001; every other
  *                       query must return rows there (OperatorsSmokeSpec)
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    cautionaryTwin: Option[String] = None,
    scale: Boolean = false,
    eager: Boolean = false,
    bnlj: Boolean = false,
    mayBeEmpty: Boolean = false)

/** Driver contract — see SURVEY.md §7.
  *
  * [[registry]] is the engine's declared operator surface (SURVEY §2B):
  * one [[QuerySpec]] per query, each a DataFrame program over the sf*
  * tables with its DuckDB oracle. `queries` and `oracleSql` are Map views
  * of it. Nine queries are rows-only: `tools/compare_oracle.py` checks only
  * that they return rows, and ScalaTest suites validate their answers.
  *  - `q_approx_distinct`, `q_approx_percentiles`: approximate by
  *    construction (HLL++, Greenwald-Khanna); OperatorsSmokeSpec bounds
  *    their error against the exact answers.
  *  - `q_hll_merge`, `q_stream_hll`: HLL sketch estimates are deterministic
  *    per engine but engine-specific, not SQL-replayable.
  *  - `q_kll_quantiles`, `q_stream_kll`: KLL compaction is randomized.
  *  - `q_compression_ratio`: the DEFLATE bitstream is a zlib
  *    implementation detail no SQL engine replays.
  *  - `q_stream_topk`: Misra-Gries counters are arrival-order-defined.
  *  - `q_stream_watermarked`: on a bounded replay, the windows still open
  *    when the source dries up stay unemitted.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** Each query's build, by name: a view of [[registry]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** Each oracle'd query's DuckDB SQL, by name: a view of [[registry]].
    * Verify writes oracle_sql.json in this map's key order.
    */
  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The stream tier: the `q_stream_*` bounded replays, trigger-clocked and
    * constant in data size. Bench times them as their own tail pass.
    */
  def streamTier(name: String): Boolean = name.startsWith("q_stream_")

  /** `specs`, once no name is listed twice. */
  private[graft] def validated(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val twice = specs.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"queries registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    specs
  }

  /** The committed fan-engagement fixture (FIXTURES.md §A5), resolved once
    * against the working directory (the checkout, under sbt) to an absolute
    * path, which the engine side of q_pipeline_parity reads. Its oracle SQL
    * names the same files relative to the checkout (`fixtures/fan/...`),
    * so the manifest does not depend on where the checkout lives, and
    * `tools/compare_oracle.py` resolves them against the checkout root.
    */
  private[graft] lazy val fanFixture: String =
    java.nio.file.Paths.get("fixtures/fan").toAbsolutePath.toString

  // Shared SQL fragments for the oracle side (DuckDB dialect).
  private val discPriceSql =
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))"
  private def raceIdSql(x: String): String = {
    val word = s"regexp_replace(trim($x), '[^A-Za-z]+', '', 'g')"
    val digits = s"regexp_replace(trim($x), '[^0-9]+', '', 'g')"
    s"CASE WHEN $word <> '' AND $digits <> '' THEN lower($word) || $digits " +
      s"ELSE lower(regexp_replace(trim($x), '[^0-9a-zA-Z]+', '', 'g')) END"
  }
  private val toksSql = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
  // one oracle, two plans: q_rolling_autocorr (per-type window) and
  // q_rolling_autocorr_dist (two-phase-ranked slices + context
  // replication) must both reproduce these exact bits
  private val rollingAutocorrSql =
    """WITH p0 AS (
      |  SELECT event_type, ts, event_id, CAST(value AS DECIMAL(12,2)) AS x,
      |    LAG(CAST(value AS DECIMAL(12,2))) OVER (
      |      PARTITION BY event_type ORDER BY ts, event_id) AS y
      |  FROM events WHERE value IS NOT NULL),
      |p AS (SELECT * FROM p0 WHERE y IS NOT NULL),
      |f AS (SELECT event_type, event_id,
      |    ROW_NUMBER() OVER w AS rn,
      |    COUNT(*) OVER fw AS cnt,
      |    SUM(x) OVER fw AS sx, SUM(y) OVER fw AS sy,
      |    SUM(CAST(x * y AS DECIMAL(38,4))) OVER fw AS sxy,
      |    SUM(CAST(x * x AS DECIMAL(38,4))) OVER fw AS sxx,
      |    SUM(CAST(y * y AS DECIMAL(38,4))) OVER fw AS syy
      |  FROM p
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id),
      |    fw AS (PARTITION BY event_type ORDER BY ts, event_id
      |           ROWS BETWEEN 49 PRECEDING AND CURRENT ROW))
      |SELECT event_type, event_id,
      |  round(CASE WHEN CAST(cnt AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      |         AND CAST(cnt AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
      |    THEN (CAST(cnt AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |      (sqrt(CAST(cnt AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |       sqrt(CAST(cnt AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |    END, 6) AS autocorr
      |FROM f WHERE rn >= 50""".stripMargin
  // one oracle, two plans: q_revenue_by_nation (full recompute) and
  // q_incremental_agg (base+delta partial-state merge) must agree exactly
  private val revenueByNationSql =
    """SELECT n_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin
  // the k-core oracle unrolls the SAME bounded peel the engine runs:
  // each round re-derives degrees and keeps only nodes with deg >= k.
  // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
  // round references the previous one three times — the unmaterialized
  // unroll re-expands the base scan 3^rounds times (observed as an fd
  // exhaustion on the parquet file before it was CPU-visible)
  private def kcoreSql(k: Int = 3, rounds: Int = 6, minSupport: Int = 2): String = {
    val base =
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.pk AS a, y.pk AS b FROM li x JOIN li y
         |  ON x.ok = y.ok AND x.pk < y.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT v FROM (SELECT a AS v FROM e${i - 1}
         |  UNION ALL SELECT b FROM e${i - 1}) GROUP BY v HAVING COUNT(*) >= $k),
         |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT v FROM k$i) AND b IN (SELECT v FROM k$i))""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT v, COUNT(*) AS core_degree FROM (SELECT a AS v FROM e$rounds
       |  UNION ALL SELECT b FROM e$rounds) GROUP BY v""".stripMargin
  }

  // Holt coefficients inlined as shortest-round-trip double literals:
  // the engine computes (1 − β) in DOUBLES, and 1 − double(0.3) is not
  // the same double as decimal-listeral 0.7 cast to double — printing
  // the Scala doubles and letting DuckDB parse them back guarantees the
  // identical coefficient bits on both engines
  /** Shared dHash-rebuild CTE chain (PNG losslessness lets DuckDB
    * recompute the 64-bit fingerprint from the text bytes): ends in
    * `ph(doc_id, phash_hi, phash_lo)` — q_phash selects it verbatim,
    * q_image_neardups bands and joins it.
    */
  private def phashCoreSql(): String =
    """WITH d AS (
      |  SELECT doc_id, text, strlen(text) AS len,
      |    CAST(ceil(strlen(text) / 16.0) AS INTEGER) AS h
      |  FROM documents WHERE strlen(text) >= 128),
      |p AS (SELECT doc_id, h, text || repeat(' ', 16 * h - len) AS padded FROM d),
      |e AS (SELECT doc_id, h, padded,
      |    CAST(unnest(range(0, CAST(16 * h AS BIGINT))) AS INTEGER) AS pos FROM p),
      |px AS (SELECT doc_id, h, pos % 16 AS c, pos // 16 AS r,
      |    ascii(substr(padded, pos + 1, 1)) AS v FROM e),
      |cells AS (SELECT doc_id, (c * 9) // 16 AS gx, (r * 8) // h AS gy,
      |    SUM(v) AS s, COUNT(*) AS n FROM px GROUP BY 1, 2, 3),
      |bits AS (SELECT a.doc_id, a.gx, a.gy,
      |    CASE WHEN a.s * b.n > b.s * a.n THEN 1 ELSE 0 END AS bit
      |  FROM cells a JOIN cells b
      |    ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
      |  WHERE a.gx < 8),
      |rb AS (SELECT doc_id, gy,
      |    SUM(bit * (CAST(1 AS BIGINT) << CAST(gx AS INTEGER))) AS rowbyte
      |  FROM bits GROUP BY 1, 2),
      |ph AS MATERIALIZED (SELECT doc_id,
      |  CAST(SUM(CASE WHEN gy < 4 THEN rowbyte * (CAST(1 AS BIGINT) << CAST(8 * gy AS INTEGER)) ELSE 0 END) AS BIGINT) AS phash_hi,
      |  CAST(SUM(CASE WHEN gy >= 4 THEN rowbyte * (CAST(1 AS BIGINT) << CAST(8 * (gy - 4) AS INTEGER)) ELSE 0 END) AS BIGINT) AS phash_lo
      |FROM rb GROUP BY 1)""".stripMargin

  private def holtCoreSql(alpha: Double = 0.5, beta: Double = 0.3): String = {
    val (a, a1, b, b1) = (alpha, 1 - alpha, beta, 1 - beta)
    s"""WITH RECURSIVE o AS (
       |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |s AS (
       |  SELECT event_type, hr, n,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS rn
       |  FROM o),
       |r AS (
       |  SELECT event_type, hr, n, rn,
       |    CAST(n AS DOUBLE) AS level, CAST(0 AS DOUBLE) AS trend
       |  FROM s WHERE rn = 1
       |  UNION ALL
       |  SELECT event_type, hr, n, rn, lvl,
       |    $b * (lvl - plevel) + $b1 * ptrend
       |  FROM (
       |    SELECT s.event_type, s.hr, s.n, s.rn,
       |      $a * CAST(s.n AS DOUBLE) + $a1 * (r.level + r.trend) AS lvl,
       |      r.level AS plevel, r.trend AS ptrend
       |    FROM r JOIN s ON s.event_type = r.event_type AND s.rn = r.rn + 1))""".stripMargin
  }

  private def holtSql(alpha: Double = 0.5, beta: Double = 0.3): String =
    holtCoreSql(alpha, beta) +
      "\nSELECT event_type, hr, n, level, trend, level + trend AS forecast_next\nFROM r"

  /** Holt–Winters replay: the recursive CTE carries the 24-slot
    * hour-of-day seasonal state as a DOUBLE list, updated with an
    * indexed list_transform — every coefficient inlined as its
    * shortest-round-trip literal, expressions mirrored
    * operation-for-operation against [[graft.operators.Stats.holtWinters]].
    */
  private def holtWintersSql(alpha: Double = 0.5, beta: Double = 0.3,
      gamma: Double = 0.2): String = {
    val (a, a1, b, b1) = (alpha, 1 - alpha, beta, 1 - beta)
    val (g, g1) = (gamma, 1 - gamma)
    s"""WITH RECURSIVE o AS (
       |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |sq AS (
       |  SELECT event_type, hr, n,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS rn
       |  FROM o),
       |r AS (
       |  SELECT event_type, hr, n, rn,
       |    CAST(n AS DOUBLE) AS level, CAST(0 AS DOUBLE) AS trend,
       |    CAST(0 AS DOUBLE) AS seasonal,
       |    list_transform(range(24), x -> CAST(0 AS DOUBLE)) AS s
       |  FROM sq WHERE rn = 1
       |  UNION ALL
       |  SELECT event_type, hr, n, rn, lvl,
       |    $b * (lvl - plevel) + $b1 * ptrend,
       |    $g * (y - lvl) + $g1 * sprev,
       |    list_transform(s, (x, i) -> CASE WHEN i = slot
       |      THEN $g * (y - lvl) + $g1 * sprev ELSE x END)
       |  FROM (
       |    SELECT sq.event_type, sq.hr, sq.n, sq.rn,
       |      CAST(sq.n AS DOUBLE) AS y,
       |      CAST(sq.hr % 24 AS INTEGER) + 1 AS slot,
       |      r.s[CAST(sq.hr % 24 AS INTEGER) + 1] AS sprev,
       |      $a * (CAST(sq.n AS DOUBLE) - r.s[CAST(sq.hr % 24 AS INTEGER) + 1])
       |        + $a1 * (r.level + r.trend) AS lvl,
       |      r.level AS plevel, r.trend AS ptrend, r.s AS s
       |    FROM r JOIN sq ON sq.event_type = r.event_type AND sq.rn = r.rn + 1))
       |SELECT event_type, hr, n, level, trend, seasonal FROM r""".stripMargin
  }

  // one oracle, two plans: q_ngram_jaccard (co-shingle join) and
  // q_jaccard_prefix (AllPairs prefix filter) must return the same rows
  private val jaccardOracleSql =
    """WITH pos AS (
      |  SELECT doc_id, text, unnest(range(1, GREATEST(LENGTH(text) - 14, 1) + 1)) AS i
      |  FROM documents WHERE doc_id < 200),
      |sh AS (
      |  SELECT DISTINCT doc_id, substring(text, CAST(i AS INTEGER), 15) AS sh FROM pos),
      |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS shared
      |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      |  GROUP BY x.doc_id, y.doc_id)
      |SELECT a, b, CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared) AS jaccard
      |FROM pairs JOIN counts ca ON ca.doc_id = a JOIN counts cb ON cb.doc_id = b
      |WHERE CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared) >= 0.5""".stripMargin

  /** Shared oracle fragment: the exact-Jaccard near-dup cluster chain
    * (doc_id < 200 slice) ending at the `reach` closure — used by both
    * `q_dedup_clusters` and `q_cluster_reps`, so the dedup definition
    * (15-char shingles, 0.5 Jaccard) cannot drift between oracles.
    */
  private val clustersReachSql =
    """pos AS (
      |  SELECT doc_id, text, unnest(range(1, GREATEST(LENGTH(text) - 14, 1) + 1)) AS i
      |  FROM documents WHERE doc_id < 200),
      |sh AS (
      |  SELECT DISTINCT doc_id, substring(text, CAST(i AS INTEGER), 15) AS sh FROM pos),
      |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS shared
      |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      |  GROUP BY x.doc_id, y.doc_id),
      |jp AS (
      |  SELECT a, b
      |  FROM pairs JOIN counts ca ON ca.doc_id = a JOIN counts cb ON cb.doc_id = b
      |  WHERE CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared) >= 0.5),
      |edges AS (SELECT a AS u, b AS v FROM jp UNION ALL SELECT b AS u, a AS v FROM jp),
      |reach AS (
      |  SELECT doc_id AS u, doc_id AS v FROM documents WHERE doc_id < 200
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)""".stripMargin

  /** Shared oracle fragment: the portable MinHash-LSH candidate-pair
    * chain (60-bit md5 base hash mod the Mersenne prime → the seeded
    * affine permutation family with its coefficients interpolated as
    * literals → 16 md5-prefix band keys → candidate equi-join →
    * per-pair equal-position count in `mm`) — the single source of
    * truth for `q_minhash_neardups` and the edge set of
    * `q_dedup_clusters_lsh`.
    */
  private lazy val minhashPairsSql = {
    val (ca, cb) = graft.operators.Dedup.minhashCoefs
    val p = graft.operators.Dedup.minhashPrime
    val coefRows = ca.indices.map(j => s"($j, ${ca(j)}, ${cb(j)})").mkString(", ")
    s"""pos AS (
      |  SELECT doc_id, text,
      |    unnest(range(1, GREATEST(LENGTH(text) - 14, 1) + 1)) AS i
      |  FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |    substring(text, CAST(i AS INTEGER), 15) AS sh FROM pos),
      |h AS (SELECT doc_id,
      |    CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) % $p AS h
      |  FROM sh),
      |coef AS (SELECT * FROM (VALUES $coefRows) t(j, ca, cb)),
      |m AS (SELECT doc_id, CAST(coef.j AS INTEGER) AS j,
      |    MIN((coef.ca * h.h + coef.cb) % $p) AS m
      |  FROM h CROSS JOIN coef GROUP BY 1, 2),""".stripMargin
  } +
    """
      |sig AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM m GROUP BY 1),
      |bands AS (SELECT doc_id, b.b AS band,
      |    CAST('0x' || substr(md5(array_to_string(
      |      list_slice(sig, 4 * b.b + 1, 4 * b.b + 4), ',')), 1, 15)
      |      AS BIGINT) AS key
      |  FROM sig CROSS JOIN (SELECT unnest(range(16)) AS b) b),
      |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      |  FROM bands l JOIN bands r
      |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
      |mm AS (SELECT c.a, c.b,
      |    CAST(SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS BIGINT) AS eq
      |  FROM cand c
      |  JOIN m ma ON ma.doc_id = c.a
      |  JOIN m mb ON mb.doc_id = c.b AND mb.j = ma.j
      |  GROUP BY 1, 2)""".stripMargin

  /** Shared oracle fragment: the document quality score over a relation
    * exposing (text, toks) — the single source of truth for
    * `q_quality_score` and `q_cluster_reps`' argmax key.
    */
  private val qualityScoreSql =
    """((CASE WHEN LEN(toks) >= 10 AND LEN(toks) <= 1000 THEN 1.0 ELSE 0.0 END)
      |   + (CASE WHEN (CASE WHEN LENGTH(text) > 0 THEN CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g')) AS DOUBLE) / LENGTH(text) ELSE 0.0 END) <= 0.2 THEN 1.0 ELSE 0.0 END)
      |   + (CASE WHEN (CASE WHEN LENGTH(text) > 0 THEN CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / LENGTH(text) ELSE 0.0 END) <= 0.3 THEN 1.0 ELSE 0.0 END)) / 3.0""".stripMargin
  private lazy val tokenChunksSql =
    s"""WITH docs AS (SELECT doc_id, $toksSql AS t FROM documents),
       |ks AS (SELECT doc_id, t, CAST(unnest(range(0, (LEN(t) - 1) // 24 + 1)) AS INTEGER) AS k
       |       FROM docs WHERE LEN(t) > 0),
       |c AS (SELECT doc_id, k, t[k * 24 + 1 : k * 24 + 32] AS chunk FROM ks)
       |SELECT doc_id, k AS chunk_idx, CAST(LEN(chunk) AS INTEGER) AS n_in_chunk,
       |  md5(array_to_string(chunk, ' ')) AS chunk_md5
       |FROM c""".stripMargin

  // The same 32-term Morton interleave ZOrder.interleave16 builds as a
  // Column tree, rendered for DuckDB (bit i of x → 2i, of y → 2i+1).
  private def mortonSql(x: String, y: String): String =
    (0 until 16).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" | ")

  /** DuckDB replay of [[graft.operators.Similarity.pcaProject]]: the
    * q9 floor-scaled-integer sufficient stats, `squarings`
    * trace-normalized matrix squarings per component (unrolled as
    * MATERIALIZED CTEs — plain CTE inlining would re-evaluate the
    * chain exponentially), Rayleigh λ, deflation, and the bridged
    * per-row projection. Every sum is an order-free exact-integer
    * reduce of q9(x) = ⌊x·1e9 + 0.5⌋ terms (pure IEEE multiply/add/
    * floor — identical in any engine, unlike repr-sensitive
    * ROUND(double, 9)), and every remaining scalar op is IEEE double
    * in the same order as the driver — a bit-exact replay.
    */
  private def pcaOracleSql(squarings: Int = 11): String = {
    // SUM of q9 terms back to a double value (bounded sums ride BIGINT)
    def q9sum(term: String) =
      s"CAST(SUM(CAST(FLOOR($term * 1.0E9 + 0.5) AS BIGINT)) AS DOUBLE) / 1.0E9"
    // trace-normalized squarings of the matrix CTE `src` under prefix
    // `pfx`; final matrix is ${pfx}m$squarings
    def rounds(src: String, pfx: String): String = (1 to squarings).map { t =>
      val prev = if (t == 1) src else s"${pfx}m${t - 1}"
      s"""${pfx}tr$t AS (SELECT ${q9sum("c")} AS t FROM $prev WHERE i = j),
         |${pfx}n$t AS MATERIALIZED (SELECT i, j,
         |    c / (SELECT t FROM ${pfx}tr$t) AS c FROM $prev),
         |${pfx}m$t AS MATERIALIZED (SELECT a.i AS i, b.j AS j,
         |    ${q9sum("a.c * b.c")} AS c
         |  FROM ${pfx}n$t a JOIN ${pfx}n$t b ON a.j = b.i GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    // matvec from the uniform start, normalize, Rayleigh λ on the
    // component's own (possibly deflated) matrix `src`, centering shift
    def component(src: String, pfx: String): String =
      rounds(src, pfx) + ",\n" +
        s"""${pfx}w AS (SELECT i,
           |    ${q9sum("c * (1.0 / sqrt((SELECT dv FROM dd)))")} AS w
           |  FROM ${pfx}m$squarings GROUP BY 1),
           |${pfx}nv AS (SELECT sqrt(${q9sum("w * w")}) AS nv FROM ${pfx}w),
           |${pfx}v AS MATERIALIZED (SELECT i,
           |    w / (SELECT nv FROM ${pfx}nv) AS v FROM ${pfx}w),
           |${pfx}cv AS (SELECT m.i AS i, ${q9sum("m.c * v.v")} AS cv
           |  FROM $src m JOIN ${pfx}v v ON v.i = m.j GROUP BY 1),
           |${pfx}lam AS (SELECT ${q9sum("v.v * cv.cv")} AS l
           |  FROM ${pfx}v v JOIN ${pfx}cv cv ON cv.i = v.i),
           |${pfx}sh AS (SELECT ${q9sum("mu.m * v.v")} AS s
           |  FROM mu JOIN ${pfx}v v ON v.i = mu.i)""".stripMargin
    val evrExpr = (pfx: String) =>
      s"""(SELECT CASE WHEN (SELECT t FROM tr0) > 0
         |    THEN GREATEST(l, 0.0) / (SELECT t FROM tr0) ELSE 0.0 END
         |  FROM ${pfx}lam)""".stripMargin
    s"""WITH emb AS MATERIALIZED (SELECT vec_id, label,
       |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM emb),
       |dd AS (SELECT CAST(len(v) AS DOUBLE) AS dv FROM emb LIMIT 1),
       |si AS MATERIALIZED (SELECT u.i AS i,
       |    SUM(CAST(FLOOR(u.x * 1.0E9 + 0.5) AS DECIMAL(38,0))) AS s FROM (
       |    SELECT unnest(list_transform(v,
       |      (x, i) -> struct_pack(i := i - 1, x := x))) AS u FROM emb) z
       |  GROUP BY 1),
       |gr AS MATERIALIZED (SELECT u.i AS i, u.j AS j, SUM(u.t) AS g FROM (
       |    SELECT unnest(flatten(list_transform(v, (xi, i) ->
       |      list_transform(list_slice(v, i, len(v)), (xj, jj) ->
       |        struct_pack(i := i - 1, j := i - 1 + jj - 1,
       |          t := CAST(FLOOR(xi * xj * 1.0E9 + 0.5) AS DECIMAL(38,0)))))))
       |      AS u
       |    FROM emb) z
       |  GROUP BY 1, 2),
       |mu AS MATERIALIZED (SELECT i,
       |    (CAST(s AS DOUBLE) / 1.0E9) / (SELECT nd FROM nn) AS m FROM si),
       |covU AS (SELECT g.i AS i, g.j AS j,
       |    ((CAST(g.g AS DOUBLE) / 1.0E9) - (SELECT nd FROM nn) * a.m * b.m)
       |      / ((SELECT nd FROM nn) - 1.0) AS c
       |  FROM gr g JOIN mu a ON a.i = g.i JOIN mu b ON b.i = g.j),
       |c0 AS MATERIALIZED (SELECT i, j, c FROM covU
       |  UNION ALL SELECT j AS i, i AS j, c FROM covU WHERE i <> j),
       |tr0 AS (SELECT ${q9sum("c")} AS t FROM c0 WHERE i = j),
       |${component("c0", "x1")},
       |c1 AS MATERIALIZED (SELECT a.i AS i, a.j AS j,
       |    a.c - (SELECT l FROM x1lam) * va.v * vb.v AS c
       |  FROM c0 a JOIN x1v va ON va.i = a.i JOIN x1v vb ON vb.i = a.j),
       |${component("c1", "x2")},
       |ux AS MATERIALIZED (SELECT vec_id, label, u.i AS i, u.x AS x FROM (
       |    SELECT vec_id, label, unnest(list_transform(v,
       |      (x, i) -> struct_pack(i := i - 1, x := x))) AS u FROM emb) z)
       |SELECT ux.vec_id, ux.label,
       |  CAST(SUM(CAST(FLOOR(ux.x * v1.v * 1.0E9 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / 1.0E9 - (SELECT s FROM x1sh) AS pc1,
       |  CAST(SUM(CAST(FLOOR(ux.x * v2.v * 1.0E9 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / 1.0E9 - (SELECT s FROM x2sh) AS pc2,
       |  ${evrExpr("x1")} AS evr1,
       |  ${evrExpr("x2")} AS evr2
       |FROM ux JOIN x1v v1 ON v1.i = ux.i JOIN x2v v2 ON v2.i = ux.i
       |GROUP BY 1, 2""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.TextAnalysis.bpeApply]]: the 8
    * training rounds unroll as CTE stages over a WRAPPED-STRING symbol
    * encoding — each symbol as chr(1)‖sym‖chr(1), so SQL `replace`
    * (left-to-right, non-overlapping, exactly `mergeAdjacent`'s scan)
    * applies a round's (a,b) rule in one call with no cross-symbol
    * false matches. Per round: adjacent-pair counts from the split
    * symbols, argmax rule (count desc, a asc, b asc — the trainer's
    * tie-break), replace-apply. MATERIALIZED CTEs — each stage is
    * referenced 3× and plain inlining re-evaluates exponentially.
    */
  private def bpeOracleSql(merges: Int = 8, trainOnly: Boolean = false): String = {
    val U = "chr(1)"
    def wrapped(w: String) =
      s"$U || array_to_string(list_append(string_split($w, ''), '</w>'), $U || $U) || $U"
    def rule(r: Int, src: String, out: String) =
      s"""$out AS MATERIALIZED (SELECT w, cnt_or_1, replace(s,
         |    $U || (SELECT a FROM r$r) || $U || $U || (SELECT b FROM r$r) || $U,
         |    $U || (SELECT a || b FROM r$r) || $U) AS s FROM $src)""".stripMargin
    val trainRounds = (1 to merges).map { r =>
      val prev = s"st${r - 1}"
      s"""p$r AS MATERIALIZED (SELECT u.a AS a, u.b AS b, SUM(cnt_or_1) AS c FROM (
         |    SELECT cnt_or_1, unnest(list_transform(list_slice(syms, 1, len(syms) - 1),
         |      (x, i) -> struct_pack(a := x, b := syms[i + 1]))) AS u
         |    FROM (SELECT cnt_or_1,
         |      string_split(trim(s, $U), $U || $U) AS syms FROM $prev) z) y
         |  GROUP BY 1, 2),
         |r$r AS MATERIALIZED (SELECT a, b, CAST(c AS BIGINT) AS c FROM p$r
         |  ORDER BY c DESC, a ASC, b ASC LIMIT 1),
         |${rule(r, prev, s"st$r")}""".stripMargin
    }.mkString(",\n")
    val applyRounds = (1 to merges).map(r =>
      rule(r, s"a${r - 1}", s"a$r")).mkString(",\n")
    val trainPrefix =
      s"""WITH toks AS (SELECT unnest(list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS w
         |  FROM documents),
         |st0 AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt_or_1,
         |    ${wrapped("w")} AS s
         |  FROM toks GROUP BY 1),
         |$trainRounds""".stripMargin
    // trainOnly: emit the 8 learned rules themselves (q_bpe_train)
    if (trainOnly)
      return trainPrefix + "\n" + (1 to merges).map(r =>
        s"""SELECT CAST($r AS INTEGER) AS step, a AS "left", b AS "right",
           |  a || b AS merged, c AS pair_count FROM r$r""".stripMargin)
        .mkString("\nUNION ALL\n")
    trainPrefix + s""",
       |docs AS MATERIALIZED (SELECT doc_id, list_filter(
       |    string_split_regex(text, '\\s+'), x -> x <> '') AS tk FROM documents),
       |dw AS MATERIALIZED (SELECT doc_id, unnest(tk) AS w FROM docs),
       |a0 AS MATERIALIZED (SELECT w, CAST(1 AS BIGINT) AS cnt_or_1,
       |    ${wrapped("w")} AS s
       |  FROM (SELECT DISTINCT w FROM dw) z),
       |$applyRounds,
       |pieces AS (SELECT w, CAST(len(string_split(trim(s, $U),
       |    $U || $U)) AS BIGINT) AS np FROM a$merges),
       |perdoc AS (SELECT doc_id, CAST(SUM(np) AS BIGINT) AS n_pieces
       |  FROM dw JOIN pieces USING (w) GROUP BY 1)
       |SELECT d.doc_id, CAST(len(d.tk) AS BIGINT) AS n_words,
       |  COALESCE(p.n_pieces, 0) AS n_pieces,
       |  ROUND(CAST(COALESCE(p.n_pieces, 0) AS DOUBLE)
       |    / GREATEST(len(d.tk), 1), 4) AS pieces_per_word
       |FROM docs d LEFT JOIN perdoc p USING (doc_id)""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.TextAnalysis.unigramTrain]] /
    * [[graft.operators.TextAnalysis.unigramApply]] — the hard-EM unigram
    * tokenizer unrolled like [[bpeOracleSql]]'s rounds, with the Viterbi
    * E-step as a RECURSIVE-CTE forward DP per word: each iteration
    * appends `best(i)`/`back(i)` to per-word lists, candidates j ∈
    * [max(0, i−6), i) scored as `best(j) + lp(substr)` from a model MAP
    * (piece → logprob) cross-joined into the recursive term (lambdas
    * can't host subqueries), argmax with the trainer's exact tie-break
    * (max score, then SMALLEST j — Scala's ascending-j strict `>`); a
    * second recursive CTE walks the backpointers to the piece multiset.
    *
    * Replayability hinges on the round-9 grid: `trainUnigramModel`'s
    * `normalize` quantizes every model logprob via the q_hits bd9 device
    * (BigDecimal HALF_UP ↔ DuckDB `round(x, 9)`), so both engines
    * compare bit-identical doubles at every DP step; an unquantized
    * `Math.log` vs `ln` last-ulp skew could otherwise flip an argmax.
    * Missing pieces surface as NULL map hits filtered from the candidate
    * list — the -inf convention; single chars are model-permanent
    * (coverage), so every word always segments in both engines.
    */
  private def unigramOracleSql(trainOnly: Boolean, vocabSize: Int = 120,
      seedSize: Int = 400, maxPieceLen: Int = 6, emRounds: Int = 3): String = {
    // one Viterbi E-step: forward DP + backtrace over `words` with
    // model map `lpmap$tag`, emitting the piece multiset as seg$tag
    def viterbi(tag: String): String =
      s"""vit$tag AS (
         |  SELECT w, c, 0 AS i, [0.0]::DOUBLE[] AS best, [0]::INTEGER[] AS back FROM words
         |  UNION ALL
         |  SELECT w, c, i + 1, list_append(best, mx),
         |    list_append(back, list_min(list_transform(list_filter(cands, x -> x.sv = mx), x -> x.jv)))
         |  FROM (
         |    SELECT w, c, i, best, back, list_max(list_transform(cands, x -> x.sv)) AS mx, cands
         |    FROM (
         |      SELECT w, c, i, best, back,
         |        list_filter(list_transform(range(greatest(0, i + 1 - $maxPieceLen), i + 1),
         |          j -> struct_pack(sv := best[j + 1] + (m[w[j + 1 : i + 1]])[1], jv := CAST(j AS INTEGER))),
         |          x -> x.sv IS NOT NULL) AS cands
         |      FROM vit$tag, lpmap$tag WHERE i < len(w)) z1) z2
         |),
         |seg$tag AS (
         |  SELECT w, c, CAST(len(w) AS INTEGER) AS k, back, CAST(NULL AS VARCHAR) AS piece
         |  FROM vit$tag WHERE i = len(w)
         |  UNION ALL
         |  SELECT w, c, back[k + 1] AS k, back, w[back[k + 1] + 1 : k] AS piece
         |  FROM seg$tag WHERE k > 0
         |)""".stripMargin
    // normalize(cnt$tag) on the portable round-9 grid → model + map
    def model(tag: String, cnt: String): String =
      s"""model$tag AS MATERIALIZED (
         |  SELECT piece, round(ln(CAST(greatest(1, c) AS DOUBLE) /
         |    (SELECT CAST(greatest(1, SUM(greatest(1, c))) AS DOUBLE) FROM $cnt)), 9) AS lp
         |  FROM $cnt),
         |lpmap$tag AS MATERIALIZED (SELECT map(list(piece), list(lp)) AS m FROM model$tag)""".stripMargin
    // E-step piece counts + char cover (chars never leave the model)
    def counts(tag: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(c) AS BIGINT) AS c FROM seg$tag WHERE piece IS NOT NULL GROUP BY 1
         |  UNION ALL
         |  SELECT ch.piece, CAST(0 AS BIGINT) AS c FROM chars ch
         |  WHERE ch.piece NOT IN (SELECT piece FROM seg$tag WHERE piece IS NOT NULL))""".stripMargin
    val emChain = (1 to emRounds).map { r =>
      s"""${model(s"$r", s"cnt${r - 1}")},
         |${viterbi(s"$r")},
         |${counts(s"$r", s"cnt$r")}""".stripMargin
    }.mkString(",\n")
    val trainPrefix =
      s"""WITH RECURSIVE
         |toks AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> x <> '')) AS w FROM documents),
         |words AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
         |chars AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(c) AS BIGINT) AS c FROM (
         |    SELECT w[CAST(i AS INTEGER) + 1 : CAST(i AS INTEGER) + 1] AS piece, c
         |    FROM (SELECT w, c, unnest(range(0, len(w))) AS i FROM words) z) y
         |  GROUP BY 1),
         |mseed AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(c) AS BIGINT) AS c FROM (
         |    SELECT w[i + 1 : i + l] AS piece, c FROM (
         |      SELECT w, c, CAST(i AS INTEGER) AS i, CAST(l AS INTEGER) AS l FROM (
         |        SELECT w, c, i, unnest(range(2, least($maxPieceLen, len(w) - CAST(i AS INTEGER)) + 1)) AS l
         |        FROM (SELECT w, c, unnest(range(0, len(w))) AS i FROM words) z1) z2) z3) z4
         |  GROUP BY 1 ORDER BY c DESC, piece ASC LIMIT $seedSize),
         |cnt0 AS MATERIALIZED (SELECT piece, c FROM chars UNION ALL SELECT piece, c FROM mseed),
         |$emChain,
         |kept AS MATERIALIZED (
         |  SELECT piece, c FROM cnt$emRounds WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, c FROM (
         |    SELECT piece, c FROM cnt$emRounds WHERE len(piece) > 1
         |    ORDER BY c DESC, piece ASC
         |    LIMIT greatest(0, $vocabSize -
         |      (SELECT COUNT(*) FROM cnt$emRounds WHERE len(piece) = 1))) z),
         |${model("F", "kept")},
         |${viterbi("F")},
         |cntF AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(c) AS BIGINT) AS c FROM segF WHERE piece IS NOT NULL GROUP BY 1),
         |outv AS MATERIALIZED (
         |  SELECT k.piece, COALESCE(f.c, 0) AS freq FROM kept k LEFT JOIN cntF f USING (piece)),
         |totF AS (SELECT CAST(greatest(1, SUM(greatest(1, freq))) AS DOUBLE) AS t FROM outv)""".stripMargin
    if (trainOnly)
      return trainPrefix +
        s"""
           |SELECT piece, CAST(freq AS BIGINT) AS freq,
           |  round(ln(CAST(greatest(1, freq) AS DOUBLE) / (SELECT t FROM totF)), 6) AS logprob
           |FROM outv""".stripMargin
    trainPrefix +
      s""",
         |appmodel AS MATERIALIZED (
         |  SELECT piece, round(ln(CAST(greatest(1, freq) AS DOUBLE) / (SELECT t FROM totF)), 6) AS lp
         |  FROM outv),
         |lpmapA AS MATERIALIZED (SELECT map(list(piece), list(lp)) AS m FROM appmodel),
         |${viterbi("A")},
         |wp AS MATERIALIZED (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS np FROM segA WHERE piece IS NOT NULL GROUP BY 1),
         |docs AS MATERIALIZED (SELECT doc_id, list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x <> '') AS tk FROM documents),
         |dw AS (SELECT doc_id, unnest(tk) AS w FROM docs),
         |perdoc AS (SELECT doc_id, CAST(SUM(np) AS BIGINT) AS n_pieces FROM dw JOIN wp USING (w) GROUP BY 1)
         |SELECT d.doc_id, CAST(len(d.tk) AS INTEGER) AS n_words,
         |  CAST(COALESCE(p.n_pieces, 0) AS INTEGER) AS n_pieces,
         |  round(CAST(COALESCE(p.n_pieces, 0) AS DOUBLE) / greatest(len(d.tk), 1), 4) AS pieces_per_word
         |FROM docs d LEFT JOIN perdoc p USING (doc_id)""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Similarity.annCosine]] — the
    * multi-table random-hyperplane LSH, EXACT: the seeded hyperplanes
    * interpolate as literal double lists (shortest-round-trip repr, so
    * the parsed values are bit-equal), bucket bits replay as
    * `list_sum(per-dim products) > 0` (the q_knn_brute device — both
    * engines sum exact float×literal products sequentially), candidates
    * as the (table, bucket) equi-join, and the exact-cosine re-rank with
    * the engine's (cosine DESC, vec_id ASC) tie-break. Moves q_ann_lsh
    * from rows-only to hash-matched.
    */
  private def annLshOracleSql(nQueries: Int = 10, k: Int = 5,
      nTables: Int = 8, bitsPerTable: Int = 4, dim: Int = 64): String = {
    val planes = graft.operators.Similarity.hyperplanes(nTables * bitsPerTable, dim)
    val planeRows = planes.zipWithIndex.map { case (p, i) =>
      s"($i, [${p.map(_.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
       |  FROM embeddings),
       |pl(pid, p) AS (VALUES
       |    $planeRows),
       |proj AS (
       |  SELECT e.vec_id, CAST(pl.pid // $bitsPerTable AS INTEGER) AS table_id,
       |    CASE WHEN list_sum(list_transform(e.embedding,
       |        (v, i) -> CAST(v AS DOUBLE) * pl.p[i])) > 0
       |      THEN (1 << (pl.pid % $bitsPerTable)) ELSE 0 END AS bit
       |  FROM e CROSS JOIN pl),
       |banded AS (
       |  SELECT vec_id, table_id, CAST(SUM(bit) AS INTEGER) AS bucket
       |  FROM proj GROUP BY 1, 2),
       |qband AS (SELECT table_id, bucket, vec_id AS q_id FROM banded
       |  WHERE vec_id < $nQueries),
       |cand AS (
       |  SELECT DISTINCT qb.q_id, b.vec_id
       |  FROM banded b JOIN qband qb USING (table_id, bucket)
       |  WHERE b.vec_id <> qb.q_id),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm
       |  FROM e WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT c.q_id, c.vec_id,
       |    list_sum(list_transform(e.embedding,
       |      (v, i) -> CAST(v AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
       |      / (e.norm * q.q_norm) AS cosine
       |  FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id)
       |SELECT q_id, vec_id AS neighbor_id, rank, cosine FROM (
       |  SELECT q_id, vec_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
       |  FROM scored) z
       |WHERE rank <= $k""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Similarity.annSelfJoin]] /
    * [[graft.operators.Similarity.knnGraph]] — the corpus-wide LSH
    * self-join on the same devices as [[annLshOracleSql]], plus the two
    * knobs the bounded query never exercises: the SELF-SCALING bits
    * (`max(4, round(log2(n/occ(n))))` recomputed in SQL from COUNT(*) —
    * pow/ln ulp skew can't flip the integer round at any plausible n —
    * with planes interpolated for bits up to 16, a prefix of the same
    * seeded stream) and the `maxBucket` skew backstop (a HAVING on the
    * bucket counts). Pairs score once in (a < b) order and MIRROR the
    * cosine double exactly as the engine does; top-k replays the
    * bounded aggregator's (cosine DESC, id ASC) window contract.
    */
  private def annSelfJoinCoreSql(nTables: Int = 8, maxBits: Int = 16,
      dim: Int = 64, maxBucket: Int = 10000, k: Int = 5,
      recursive: Boolean = false): String = {
    val planes = graft.operators.Similarity.hyperplanes(nTables * maxBits, dim)
    val planeRows = planes.zipWithIndex.map { case (p, i) =>
      s"($i, [${p.map(_.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH ${if (recursive) "RECURSIVE " else ""}e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
       |  FROM embeddings),
       |bv AS (
       |  SELECT GREATEST(4, CAST(round(
       |      ln(n / (125.0 * ((500.0 / n) ^ 0.275))) / ln(2.0)) AS INTEGER)) AS bits
       |  FROM (SELECT CAST(GREATEST(COUNT(*), 1) AS DOUBLE) AS n FROM embeddings) z),
       |pl(pid, p) AS (VALUES
       |    $planeRows),
       |proj AS (
       |  SELECT e.vec_id, CAST(pl.pid // bv.bits AS INTEGER) AS table_id,
       |    CASE WHEN list_sum(list_transform(e.embedding,
       |        (v, i) -> CAST(v AS DOUBLE) * pl.p[i])) > 0
       |      THEN (1 << (pl.pid % bv.bits)) ELSE 0 END AS bit
       |  FROM e CROSS JOIN bv CROSS JOIN pl
       |  WHERE pl.pid < $nTables * bv.bits),
       |banded AS (
       |  SELECT vec_id, table_id, CAST(SUM(bit) AS INTEGER) AS bucket
       |  FROM proj GROUP BY 1, 2),
       |keep AS (SELECT table_id, bucket FROM banded
       |  GROUP BY 1, 2 HAVING COUNT(*) <= $maxBucket),
       |bk AS (SELECT b.vec_id, b.table_id, b.bucket
       |  FROM banded b JOIN keep USING (table_id, bucket)),
       |pairs AS (
       |  SELECT DISTINCT l.vec_id AS a_id, r.vec_id AS b_id
       |  FROM bk l JOIN bk r USING (table_id, bucket)
       |  WHERE l.vec_id < r.vec_id),
       |scored AS (
       |  SELECT p.a_id, p.b_id,
       |    list_sum(list_transform(ea.embedding,
       |      (v, i) -> CAST(v AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
       |      / (ea.norm * eb.norm) AS cosine
       |  FROM pairs p JOIN e ea ON ea.vec_id = p.a_id
       |  JOIN e eb ON eb.vec_id = p.b_id),
       |sym AS (
       |  SELECT a_id, b_id, cosine FROM scored
       |  UNION ALL
       |  SELECT b_id, a_id, cosine FROM scored),
       |topk AS (
       |  SELECT q_id, neighbor_id, rank, cosine FROM (
       |    SELECT a_id AS q_id, b_id AS neighbor_id, cosine,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY a_id
       |        ORDER BY cosine DESC, b_id ASC) AS INTEGER) AS rank
       |    FROM sym) z
       |  WHERE rank <= $k)""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Similarity.ivfCosine]] — IVF
    * ANN with its distributed Lloyd's training UNROLLED (the BPE/unigram
    * device): each round is an assignment CTE (argmax cell per sample
    * vector — max sim, then lowest cell, the `array_position` first-max
    * contract), a stats CTE (per-(cell, dim) q9 integer sums — the
    * engine's training sums ride the same bridged channel since r14, so
    * the centroid doubles are BIT-equal on both engines), and a centroid
    * CTE (empty cells keep their previous centroid). Probe ranking,
    * candidate join, and the cosine re-rank reuse the sequential-double
    * device. Moves q_ann_ivf from rows-only to hash-matched.
    */
  private def annIvfOracleSql(nQueries: Int = 10, k: Int = 5, nLists: Int = 16,
      nProbe: Int = 4, sampleSize: Int = 256, iterations: Int = 3): String = {
    def centWrap(inner: String): String =
      s"""SELECT cell, cv,
         |    sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm
         |  FROM ($inner) zc""".stripMargin
    val rounds = (1 to iterations).map { r =>
      s"""asg$r AS (
         |  SELECT vec_id, v, cell FROM (
         |    SELECT vec_id, v, cell,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cell ASC) AS rn
         |    FROM (
         |      SELECT s.vec_id, s.v, c.cell,
         |        list_sum(list_transform(s.v, (x, i) -> x * c.cv[i])) / c.cnrm AS sim
         |      FROM samp s CROSS JOIN cent${r - 1} c) z1) z2
         |  WHERE rn = 1),
         |stats$r AS (
         |  SELECT cell, CAST(i AS INTEGER) AS pos,
         |    CAST(SUM(CAST(FLOOR(v[CAST(i AS INTEGER) + 1] * 1.0E9 + 0.5) AS BIGINT)) AS BIGINT) AS s,
         |    COUNT(*) AS n
         |  FROM (SELECT cell, v, unnest(range(0, len(v))) AS i FROM asg$r) z
         |  GROUP BY 1, 2),
         |cent$r AS (
         |  ${centWrap(s"""SELECT c.cell, COALESCE(st.newv, c.cv) AS cv
         |    FROM cent${r - 1} c LEFT JOIN (
         |      SELECT cell, list((CAST(s AS DOUBLE) / 1.0E9) / n ORDER BY pos) AS newv
         |      FROM stats$r GROUP BY cell) st USING (cell)""")})""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
       |  FROM embeddings),
       |samp AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM e ORDER BY vec_id LIMIT $sampleSize),
       |cent0 AS (
       |  ${centWrap(s"""SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |    v AS cv FROM (SELECT vec_id, v FROM samp ORDER BY vec_id LIMIT $nLists) zs""")}),
       |$rounds,
       |binned AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY sim DESC, cell ASC) AS rn
       |    FROM (
       |      SELECT e.vec_id, c.cell,
       |        list_sum(list_transform(e.embedding,
       |          (x, i) -> CAST(x AS DOUBLE) * c.cv[i])) / c.cnrm AS sim
       |      FROM e CROSS JOIN cent$iterations c) z1) z2
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT q_id, cell FROM (
       |    SELECT e.vec_id AS q_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        (list_sum(list_transform(e.embedding,
       |          (x, i) -> CAST(x AS DOUBLE) * c.cv[i])) * -1) / c.cnrm ASC,
       |        c.cell ASC) AS rn
       |    FROM e CROSS JOIN cent$iterations c
       |    WHERE e.vec_id < $nQueries) z
       |  WHERE rn <= $nProbe),
       |cand AS (
       |  SELECT DISTINCT p.q_id, b.vec_id
       |  FROM binned b JOIN probes p USING (cell)
       |  WHERE b.vec_id <> p.q_id),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm
       |  FROM e WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT c.q_id, c.vec_id,
       |    list_sum(list_transform(e.embedding,
       |      (v, i) -> CAST(v AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
       |      / (e.norm * q.q_norm) AS cosine
       |  FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id)
       |SELECT q_id, vec_id AS neighbor_id, rank, cosine FROM (
       |  SELECT q_id, vec_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
       |  FROM scored) z
       |WHERE rank <= $k""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Similarity.pqCosine]] — product
    * quantization end to end: per-subspace Lloyd's unrolled like
    * [[annIvfOracleSql]] (q9 centroid sums, argmax `score DESC, code
    * ASC` matching `array_position` first-max), corpus encoding as the
    * same argmax under the final codebooks, asymmetric-distance tables
    * as sequential (a−b)² folds, the per-pair ADC sum on the q9 integer
    * channel (the engine bridges it identically — a raw double sum of
    * the m terms is shuffle-order-dependent and would make the `rerank`
    * cutoff nondeterministic), and the exact-cosine re-rank on
    * normalized vectors. Moves q_ann_pq from rows-only to hash-matched.
    */
  private def annPqOracleSql(nQueries: Int = 10, k: Int = 5, m: Int = 8,
      nCodes: Int = 16, dim: Int = 64, rerank: Int = 50,
      sampleSize: Int = 256, iterations: Int = 3): String = {
    val subDim = dim / m
    // argmax cell per (vector, sub) under codebook `cb`: the shared
    // assignment shape for training rounds AND corpus encoding
    def assign(src: String, vcol: String, cb: String): String =
      s"""SELECT vec_id, sub, cell, sv FROM (
         |    SELECT vec_id, sub, cell, sv,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |        ORDER BY score DESC, cell ASC) AS rn
         |    FROM (
         |      SELECT s.vec_id, c.sub, c.code AS cell,
         |        s.$vcol[c.sub * $subDim + 1 : c.sub * $subDim + $subDim] AS sv,
         |        list_sum(list_transform(
         |            s.$vcol[c.sub * $subDim + 1 : c.sub * $subDim + $subDim],
         |            (x, i) -> x * c.cv[i]))
         |          - list_sum(list_transform(c.cv, x -> x * x)) / 2 AS score
         |      FROM $src s CROSS JOIN $cb c) z1) z2
         |  WHERE rn = 1""".stripMargin
    val rounds = (1 to iterations).map { r =>
      s"""pasg$r AS (
         |  ${assign("samp", "v", s"cb${r - 1}")}),
         |pstats$r AS (
         |  SELECT sub, cell, CAST(i AS INTEGER) AS pos,
         |    SUM(CAST(FLOOR(sv[CAST(i AS INTEGER) + 1] * 1.0E9 + 0.5) AS BIGINT)) AS s,
         |    COUNT(*) AS n
         |  FROM (SELECT sub, cell, sv, unnest(range(0, len(sv))) AS i FROM pasg$r) z
         |  GROUP BY 1, 2, 3),
         |cb$r AS (
         |  SELECT c.sub, c.code, COALESCE(st.newv, c.cv) AS cv
         |  FROM cb${r - 1} c LEFT JOIN (
         |    SELECT sub, cell, list((CAST(s AS DOUBLE) / 1.0E9) / n ORDER BY pos) AS newv
         |    FROM pstats$r GROUP BY sub, cell) st
         |  ON st.sub = c.sub AND st.cell = c.code)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    CASE WHEN nrm = 0 THEN v0
       |         ELSE list_transform(v0, x -> x / nrm) END AS v
       |  FROM (
       |    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0,
       |      sqrt(list_sum(list_transform(embedding,
       |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |    FROM embeddings) z),
       |samp AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $sampleSize),
       |cb0 AS (
       |  SELECT sb.s AS sub, z.code, z.v[sb.s * $subDim + 1 : sb.s * $subDim + $subDim] AS cv
       |  FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code, v
       |        FROM (SELECT vec_id, v FROM samp ORDER BY vec_id LIMIT $nCodes) zz) z
       |  CROSS JOIN (SELECT CAST(unnest(range(0, $m)) AS INTEGER) AS s) sb),
       |$rounds,
       |codes AS (
       |  SELECT vec_id, sub, cell AS code FROM (
       |  ${assign("e", "v", s"cb$iterations")}) za),
       |q AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < $nQueries),
       |dtable AS (
       |  SELECT q.q_id, c.sub, c.code,
       |    list_sum(list_transform(
       |      q.q_v[c.sub * $subDim + 1 : c.sub * $subDim + $subDim],
       |      (a, i) -> (a - c.cv[i]) * (a - c.cv[i]))) AS pdist
       |  FROM q CROSS JOIN cb$iterations c),
       |adc AS (
       |  SELECT d.q_id, cc.vec_id,
       |    SUM(CAST(FLOOR(d.pdist * 1.0E9 + 0.5) AS BIGINT)) AS adc_dist
       |  FROM codes cc JOIN dtable d ON d.sub = cc.sub AND d.code = cc.code
       |  WHERE cc.vec_id <> d.q_id
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY adc_dist ASC, vec_id ASC) AS crank
       |    FROM adc) z WHERE crank <= $rerank),
       |rescored AS (
       |  SELECT c.q_id, c.vec_id,
       |    list_sum(list_transform(ev.v, (a, i) -> a * q.q_v[i])) AS cosine
       |  FROM cand c JOIN e ev ON ev.vec_id = c.vec_id JOIN q USING (q_id))
       |SELECT q_id, vec_id AS neighbor_id, rank, cosine FROM (
       |  SELECT q_id, vec_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
       |  FROM rescored) z
       |WHERE rank <= $k""".stripMargin
  }

  /** Every query, in one ordered list: Bench, Verify, ScaleBench, Explain
    * and the suites all read it, so a query is added, renamed or deleted
    * here alone. The comment above an entry gives the reasons for its
    * facts; `scale:`, `bnlj:`, `eager:`, `may be empty:` and `cautionary:`
    * name the flag they explain.
    */
  lazy val registry: Seq[QuerySpec] = validated(Seq(
    // --- relational core -------------------------------------------------
    QuerySpec("q_pricing_summary", Relational.pricingSummary(_, _), Some(
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($discPriceSql) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM($discPriceSql * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
         |  CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin), scale = true),
    QuerySpec("q_filter_project", Relational.filterProject(_, _), Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_discount > 0.08""".stripMargin), scale = true),
    QuerySpec("q_revenue_by_nation", Relational.revenueByNation(_, _), Some(revenueByNationSql)),
    QuerySpec("q_revenue_by_priority", Relational.revenueByPriority(_, _), Some(
      s"""SELECT o_orderpriority, CAST(SUM($discPriceSql) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_lines
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority""".stripMargin)),
    QuerySpec("q_semi_join", Relational.customersWithOrders(_, _), Some(
      "SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)")),
    QuerySpec("q_anti_join", Relational.customersWithoutOrders(_, _), Some(
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')")),
    QuerySpec("q_distinct_agg", Relational.distinctCustomers(_, _), Some(
      """SELECT COUNT(DISTINCT o_custkey) AS n_cust, COUNT(DISTINCT o_orderstatus) AS n_status,
        |  COUNT(*) AS n_orders FROM orders""".stripMargin)),
    QuerySpec("q_approx_distinct", Relational.approxDistinct(_, _), None),
    QuerySpec("q_rollup", Relational.rollupOrders(_, _), Some(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total, COUNT(*) AS n
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin)),
    QuerySpec("q_cube", Relational.cubeLineitem(_, _), Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)),
    QuerySpec("q_grouping_sets", Relational.groupingSets(_, _), Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)),
    QuerySpec("q_pivot", Relational.pivotRevenue(_, _), Some(
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS p1,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE o_orderpriority = '2-HIGH') AS DOUBLE) AS p2,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS DOUBLE) AS p3,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS DOUBLE) AS p4,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE o_orderpriority = '5-LOW') AS DOUBLE) AS p5
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),
    // the parser-path pivot computes the same table — one shared oracle shape
    QuerySpec("q_sql_pivot", (s, d) => Relational.sqlPivotRevenue(s, d), Some(
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS p1,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE o_orderpriority = '2-HIGH') AS DOUBLE) AS p2,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS DOUBLE) AS p3,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS DOUBLE) AS p4,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE o_orderpriority = '5-LOW') AS DOUBLE) AS p5
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),
    QuerySpec("q_unpivot", (s, d) => Relational.unpivotOrderMetrics(s, d), Some(
      """WITH wide AS (
        |  SELECT o_orderpriority,
        |    CAST(COUNT(*) AS DOUBLE) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
        |    MAX(o_totalprice) AS max_price
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, metric, value
        |FROM wide UNPIVOT (value FOR metric IN (n_orders, total_price, max_price))""".stripMargin)),
    // SQL-text UNPIVOT: same oracle as the DataFrame twin q_unpivot —
    // one statement, two front-ends
    QuerySpec("q_sql_unpivot", (s, d) => Relational.sqlUnpivotOrderMetrics(s, d), Some(
      """WITH wide AS (
        |  SELECT o_orderpriority,
        |    CAST(COUNT(*) AS DOUBLE) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
        |    MAX(o_totalprice) AS max_price
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, metric, value
        |FROM wide UNPIVOT (value FOR metric IN (n_orders, total_price, max_price))""".stripMargin)),
    QuerySpec("q_hll_merge", (s, d) => Relational.hllMergedDistinct(s, d), None),
    // exact-mode theta sketches (distinct users << 4096 nominal entries)
    // make the estimates literally the exact set-algebra answers
    // scale reason, shared with q_asof_native, q_triangles, q_pagerank,
    // q_decile_stats, q_epoch_shuffle, q_kll_quantiles:
    // round-8 verbs: the native as-of join (key exchanges + one merge
    // pass; replicas add users so partitions multiply, per-key state
    // stays O(1)); graph analytics over the replicated fact tables
    // (triangles: factor× more orders over the same part catalog —
    // the distinct+self-join front grows with data, the oriented graph
    // densifies; pagerank: the scan grows, the type-level graph stays
    // constant — measures the aggregation front); the deterministic
    // epoch permutation (one bucketed window sort over factor× docs);
    // the quantile-core decile table; and the bounded-state sketch
    // passes (theta distinct algebra, KLL quantile rollup) which
    // should ride the scan near-linearly
    QuerySpec("q_theta_overlap", (s, d) => Relational.thetaSegmentOverlap(s, d), Some(
      """SELECT 'purchase' AS scope, CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS est_users
        |FROM events WHERE event_type = 'purchase'
        |UNION ALL
        |SELECT 'click', CAST(COUNT(DISTINCT user_id) AS DOUBLE)
        |FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT 'both', CAST(COUNT(*) AS DOUBLE) FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |  INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
        |UNION ALL
        |SELECT 'either', CAST(COUNT(DISTINCT user_id) AS DOUBLE)
        |FROM events WHERE event_type IN ('purchase', 'click')""".stripMargin), scale = true),
    QuerySpec("q_kll_quantiles", (s, d) => Relational.kllQuantileRollup(s, d), None, scale = true),
    // scale reason, shared with q_percentiles_dist:
    // the buffering-vs-bounded-state exact-quantile pair: percentile_cont
    // holds each group's whole multiset in one reducer, the distributed
    // form holds one range slice per task — same numbers, different
    // memory story as groups grow
    // cautionary: buffers each group's full multiset in one percentile()
    // state — measured JVM OOM at 100×; the _dist twin is bounded-state
    QuerySpec("q_percentiles", Relational.percentiles(_, _), Some(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin), cautionaryTwin = Some("q_percentiles_dist"), scale = true),
    // Distributed order-statistics percentile: same answer, same oracle
    // as q_percentiles — the point is the bounded-state PLAN.
    QuerySpec("q_percentiles_dist", (s, d) => Relational.distributedPercentiles(s, d), Some(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin), scale = true),
    QuerySpec("q_approx_percentiles", (s, d) => Relational.approxPercentiles(s, d), None),
    QuerySpec("q_topk_aggregator", (s, d) => graft.functions.TopKAggregator.topOrdersPerCustomer(s, d), Some(
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin)),
    QuerySpec("q_window_topk", Relational.topOrdersPerCustomer(_, _), Some(
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin)),
    QuerySpec("q_window_running", Relational.runningUserAggregates(_, _), Some(
      """SELECT event_id, user_id,
        |  CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS running_value,
        |  COALESCE(LAG(event_id, 1) OVER w, -1) AS prev_event_id
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING)""".stripMargin)),
    QuerySpec("q_window_rank", Relational.rankingFunctions(_, _), Some(
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(RANK() OVER c AS INTEGER) AS rnk,
        |  CAST(DENSE_RANK() OVER c AS INTEGER) AS drnk,
        |  CAST(NTILE(4) OVER u AS INTEGER) AS quartile,
        |  COALESCE(LEAD(o_orderkey, 1) OVER u, -1) AS next_okey
        |FROM orders
        |WINDOW c AS (PARTITION BY o_orderstatus ORDER BY MONTH(o_orderdate) ASC),
        |       u AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin)),
    QuerySpec("q_window_dist", Relational.distributionFunctions(_, _), Some(
      """SELECT o_orderkey, o_orderstatus,
        |  round(PERCENT_RANK() OVER w, 6) AS pct_rank,
        |  round(CUME_DIST() OVER w, 6) AS cume,
        |  CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
        |  COALESCE(NTH_VALUE(o_orderkey, 3) OVER
        |    (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS third_okey,
        |  FIRST_VALUE(o_orderkey) OVER
        |    (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_okey
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC)""".stripMargin)),
    QuerySpec("q_sort_limit", Relational.topLineitems(_, _), Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 10""".stripMargin)),
    QuerySpec("q_except", Relational.exceptCustomers(_, _), Some(
      "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'")),
    QuerySpec("q_intersect", Relational.intersectCustomers(_, _), Some(
      "SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders")),
    QuerySpec("q_union_agg", Relational.unionKeys(_, _), Some(
      """SELECT k, COUNT(*) AS n FROM (
        |  SELECT c_custkey AS k FROM customer UNION ALL SELECT o_custkey AS k FROM orders)
        |GROUP BY k""".stripMargin)),
    QuerySpec("q_collect_set", Relational.eventTypesPerUser(_, _), Some(
      """SELECT user_id, CAST(LEN(list_distinct(list(event_type))) AS INTEGER) AS n_types,
        |  array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types_csv
        |FROM events GROUP BY user_id""".stripMargin)),
    QuerySpec("q_string_fns", Relational.stringFunctions(_, _), Some(
      """SELECT p_partkey, UPPER(p_name) AS upper_name, SUBSTRING(p_name, 1, 4) AS prefix4,
        |  CAST(LENGTH(p_name) AS INTEGER) AS name_len,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key
        |FROM part""".stripMargin)),
    QuerySpec("q_raceid_norm", Relational.raceIdNormalization(_, _), Some(
      s"""SELECT p_partkey,
         |  ${raceIdSql("p_name || ' ' || CAST(p_partkey AS VARCHAR)")} AS norm_name_key,
         |  ${raceIdSql("p_brand")} AS norm_brand,
         |  ${raceIdSql("p_type")} AS norm_type
         |FROM part""".stripMargin)),
    QuerySpec("q_events_per_hour", Relational.eventsPerHour(_, _), Some(
      """SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1""".stripMargin)),
    QuerySpec("q_orders_by_month", Relational.ordersByMonth(_, _), Some(
      """SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS y, CAST(MONTH(o_orderdate) AS INTEGER) AS m,
        |  COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2""".stripMargin)),
    QuerySpec("q_math_fns", Relational.mathFunctions(_, _), Some(
      """SELECT l_orderkey, l_linenumber, ABS(l_discount - 0.05) AS abs_disc_delta,
        |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS floor_price,
        |  CAST(CEIL(l_extendedprice) AS BIGINT) AS ceil_price,
        |  l_quantity % 7 AS qty_mod7,
        |  GREATEST(l_tax, l_discount) AS max_rate, LEAST(l_tax, l_discount) AS min_rate
        |FROM lineitem""".stripMargin)),
    QuerySpec("q_array_fns", Relational.arrayFunctions(_, _), Some(
      """SELECT vec_id, CAST(LEN(embedding) AS INTEGER) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS first_val,
        |  list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq_norm
        |FROM embeddings""".stripMargin)),
    QuerySpec("q_json_fns", Relational.jsonFunctions(_, _), Some(
      "SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events")),
    // the nested variant document is BUILT from typed columns, so the
    // oracle recomputes every typed path extraction from the originals —
    // the whole JSON→variant→typed round trip must be lossless
    QuerySpec("q_variant", Relational.variantFunctions(_, _), Some(
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k,
        |  event_type AS etype, value AS v, user_id AS tag
        |FROM events""".stripMargin)),
    // grouping runs under UTF8_LCASE collation engine-side; the oracle's
    // lower() group is the semantic definition of that collation here
    QuerySpec("q_collation", Relational.collatedSegments(_, _), Some(
      """SELECT lower(seg) AS segment, COUNT(*) AS n
        |FROM (SELECT CASE WHEN c_custkey % 2 = 1 THEN upper(c_mktsegment)
        |             ELSE lower(c_mktsegment) END AS seg FROM customer)
        |GROUP BY 1""".stripMargin)),
    QuerySpec("q_map_fns", Relational.mapFunctions(_, _), Some(
      """SELECT event_id, k AS key, CAST(json_extract_string(props, '$.' || k) AS BIGINT) AS v
        |FROM (SELECT event_id, props, unnest(json_keys(props)) AS k FROM events)""".stripMargin)),
    QuerySpec("q_timestamp_fns", Relational.timestampFunctions(_, _), Some(
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS d_str,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        |  CAST(day(o_orderdate) AS INTEGER) AS day_of_month,
        |  CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
        |  o_orderdate + INTERVAL 30 DAY AS plus_30d,
        |  CAST(strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS TIMESTAMP) AS parsed_back
        |FROM orders""".stripMargin)),
    QuerySpec("q_range_join", Relational.shippedWithin60Days(_, _), Some(
      """SELECT o_orderpriority, COUNT(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
        |GROUP BY o_orderpriority""".stripMargin)),
    QuerySpec("q_sql_text", Relational.sqlShippingPriority(_, _), Some(
      s"""SELECT o_orderkey,
         |  CAST(SUM($discPriceSql) AS DOUBLE) AS revenue,
         |  o_orderdate, o_orderpriority
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
         |GROUP BY o_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, o_orderkey ASC
         |LIMIT 10""".stripMargin)),
    // Correlated EXISTS (TPC-H Q4 shape) — both engines decorrelate to a
    // semi join; the result is what the compare checks.
    QuerySpec("q_sql_exists", Relational.sqlExistsLateOrders(_, _), Some(
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority""".stripMargin)),
    // six-table parser-path join (TPC-H Q8 market-share shape); share
    // arithmetic mirrored (exact decimal sums, one double division)
    QuerySpec("q_sql_multijoin", Relational.sqlMarketShare(_, _), Some(
      s"""SELECT year(o_orderdate) AS o_year,
         |  CAST(SUM($discPriceSql) AS DOUBLE) AS revenue,
         |  round(CAST(SUM(CASE WHEN r_name = 'ASIA' THEN $discPriceSql
         |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
         |    CAST(SUM($discPriceSql) AS DOUBLE), 6) AS asia_share
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE p_type = 'STANDARD'
         |GROUP BY year(o_orderdate)""".stripMargin)),
    // pipe-syntax Q1: the |> stages desugar to the identical plan
    QuerySpec("q_sql_pipe", Relational.sqlPipeSyntax(_, _), Some(
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST($discPriceSql AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // GROUP BY ALL / ORDER BY ALL sugar — same text works in DuckDB
    // (which originated it); the compare sorts rows anyway
    QuerySpec("q_sql_group_by_all", Relational.sqlGroupByAll(_, _), Some(
      """SELECT o_orderpriority, year(o_orderdate) AS o_year, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY ALL""".stripMargin)),
    // lateral column aliases: dp/ch chains are exact decimal products
    // (scale 4 then 6 — no rounding site), doubles only at the output
    QuerySpec("q_sql_lateral_alias", Relational.sqlLateralAlias(_, _), Some(
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
        |  FROM lineitem WHERE l_orderkey < 1000)""".stripMargin)),
    // session variable graft_prio is SET to '2-HIGH' before the query
    QuerySpec("q_sql_variables", Relational.sqlVariables(_, _), Some(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderpriority = '2-HIGH'
        |GROUP BY o_orderpriority""".stripMargin)),
    // named parameters bind qmin=25, dmax=0.05 as typed literals
    QuerySpec("q_sql_params", Relational.sqlNamedParams(_, _), Some(
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
        |FROM lineitem
        |WHERE l_quantity >= 25 AND l_discount <= 0.05
        |GROUP BY l_returnflag""".stripMargin)),
    // the scripting loop "double thr until < 100 orders clear it",
    // re-derived set-wise: doublings = least k with count(> 1000*2^k) < 100
    QuerySpec("q_sql_script", Relational.sqlScripting(_, _), Some(
      """WITH ks AS (SELECT unnest(range(0, 41)) AS k),
        |counts AS (
        |  SELECT ks.k, COUNT(o.o_orderkey) AS n
        |  FROM ks LEFT JOIN orders o
        |    ON CAST(o.o_totalprice AS DOUBLE) > 1000.0 * power(2.0, ks.k)
        |  GROUP BY ks.k),
        |d AS (SELECT MIN(k) AS doublings FROM counts WHERE n < 100)
        |SELECT CAST(d.doublings AS INTEGER) AS doublings,
        |  1000.0 * power(2.0, d.doublings) AS final_threshold,
        |  (SELECT n FROM counts WHERE k = d.doublings) AS orders_above
        |FROM d""".stripMargin)),
    // EXECUTE IMMEDIATE with a ? binding and IDENTIFIER(table-variable)
    QuerySpec("q_sql_exec_immediate", Relational.sqlExecuteImmediate(_, _), Some(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_totalprice > 5000.0
        |GROUP BY o_orderpriority""".stripMargin)),
    // identical semantics planned by ANALYZE statistics (CBO) — the
    // oracle is the same logical query
    QuerySpec("q_cbo_multijoin", Cbo.cboMarketShare(_, _), Some(
      s"""SELECT year(o_orderdate) AS o_year,
         |  CAST(SUM($discPriceSql) AS DOUBLE) AS revenue,
         |  round(CAST(SUM(CASE WHEN r_name = 'ASIA' THEN $discPriceSql
         |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
         |    CAST(SUM($discPriceSql) AS DOUBLE), 6) AS asia_share
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE p_type = 'STANDARD'
         |GROUP BY year(o_orderdate)""".stripMargin)),
    // catalog-native CBO: graft_vt sidecar stats drive the planner —
    // the oracle is the same logical query over the raw tables
    // scale reason, shared with q_matryoshka_eval, q_sql_merge_evolve,
    // q_branch_mor:
    // r11-verdict backfill: matryoshka is the twice-scored knn_brute
    // broadcast shape — post-fix it ranks via the bounded aggregator, so
    // the factor should show only in the scan/score term (the one
    // data-dominated r11 verb the r11 sweep missed); the three
    // table-format verbs are METADATA-bounded (fixture build + a
    // files-diff / stats read) — swept to prove the flat ratio, not to
    // watch a data term
    QuerySpec("q_cbo_native", Cbo.cboNativeVt(_, _), Some(
      """SELECT c_mktsegment, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin), scale = true),
    // Correlated scalar subquery (TPC-H Q17 shape).
    QuerySpec("q_sql_scalar", Relational.sqlScalarAvgQuantity(_, _), Some(
      """SELECT p_brand,
        |  CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
        |  COUNT(*) AS n_lines
        |FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
        |WHERE l1.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
        |                       FROM lineitem l2
        |                       WHERE l2.l_partkey = l1.l_partkey)
        |GROUP BY p_brand""".stripMargin)),
    // IN-subquery with grouped HAVING inner (TPC-H Q18 shape) — rewrites
    // to a semi join against the aggregate in both engines.
    QuerySpec("q_sql_in", Relational.sqlInLargeOrders(_, _), Some(
      """SELECT c_name, o_orderkey, o_orderdate,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)""".stripMargin)),
    // Parser-path window function; o_orderkey tiebreak makes rn exact.
    QuerySpec("q_sql_window", Relational.sqlWindowTopOrders(_, _), Some(
      """SELECT c_custkey, o_orderkey, total_price, rn
        |FROM (
        |  SELECT c_custkey, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY c_custkey
        |                            ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC,
        |                                     o_orderkey ASC) AS INTEGER) AS rn
        |  FROM orders JOIN customer ON c_custkey = o_custkey) t
        |WHERE rn <= 3""".stripMargin)),
    QuerySpec("q_sql_lateral", Relational.sqlLateralTopOrders(_, _), Some(
      """SELECT c.c_custkey, t.o_orderkey, t.total_price
        |FROM customer c,
        |LATERAL (SELECT o_orderkey,
        |           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
        |         FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey ASC
        |         LIMIT 2) t""".stripMargin)),
    // IDENTICAL statement both engines (modulo the view name): the
    // recursion is depth-bounded so UNION ALL terminates despite cycles
    QuerySpec("q_sql_recursive", Relational.sqlRecursivePaths(_, _), Some(
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT prev_type, event_type AS next_type FROM (
        |    SELECT event_type,
        |      LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |    FROM events) t
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
        |FROM paths GROUP BY etype, depth""".stripMargin)),
    // the oracle inlines the SQL UDF body (strpos = Spark's instr)
    QuerySpec("q_sql_udf", Relational.sqlScalarUdf(_, _), Some(
      """SELECT substr(o_orderpriority, strpos(o_orderpriority, '-') + 1) AS pclass,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY 1""".stripMargin)),
    // LATERAL VIEW posexplode == indexed unnest (0-based pos both sides)
    QuerySpec("q_sql_tvf", Relational.sqlPosexplodeTokens(_, _), Some(
      """WITH s AS (SELECT p_partkey, string_split(p_name, ' ') AS toks FROM part),
        |i AS (SELECT p_partkey, toks,
        |        CAST(unnest(range(1, LEN(toks) + 1)) AS INTEGER) AS i FROM s)
        |SELECT p_partkey, i - 1 AS pos, toks[i] AS token FROM i""".stripMargin)),
    // NULL-on-failure semantics mirrored: TRY_CAST, zero-divisor guard,
    // overflow guard, out-of-bounds list index (NULL natively in DuckDB)
    QuerySpec("q_try_fns", Relational.tryFunctions(_, _), Some(
      """SELECT o_orderkey,
        |  TRY_CAST(o_orderpriority AS INTEGER) AS bad_int,
        |  CASE WHEN o_custkey % 3 = 0 THEN NULL
        |       ELSE CAST(o_totalprice AS DOUBLE) / (o_custkey % 3) END AS div3,
        |  CASE WHEN o_orderkey % 1000 = 0 AND o_orderkey > 0 THEN NULL
        |       ELSE o_orderkey END AS overflow_add,
        |  string_split(o_orderpriority, '-')[5] AS oob_elem
        |FROM orders""".stripMargin)),
    // SQL-standard listagg == ordered string_agg over the distinct set
    QuerySpec("q_listagg", Relational.sqlListAgg(_, _), Some(
      """SELECT user_id,
        |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_csv
        |FROM events GROUP BY user_id""".stripMargin)),
    // HOF lambdas == DuckDB list lambdas; list_position NULL→0 and the
    // shared binary sort reconcile the engines' semantics
    QuerySpec("q_hof_fns", Relational.higherOrderFunctions(_, _), Some(
      s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents)
         |SELECT doc_id,
         |  LEN(list_filter(t, x -> x LIKE 'a%')) > 0 AS has_a_token,
         |  LEN(list_filter(t, x -> strlen(x) >= 20)) = 0 AS all_short,
         |  CAST(LEN(list_filter(t, x -> strlen(x) > 5)) AS INTEGER) AS n_long,
         |  array_to_string(list_sort(t)[1:3], ' ') AS first3_sorted,
         |  CAST(COALESCE(list_position(t, 'the'), 0) AS BIGINT) AS the_pos
         |FROM d""".stripMargin)),
    // the composed curation chain: gate → min-doc_id exact dedup →
    // md5-bucket split → whitespace token count, all shared idioms
    QuerySpec("q_pipeline_curate", TextAnalysis.curationPipeline(_, _), Some(
      s"""WITH gated AS (
         |  SELECT * FROM documents WHERE lang = 'en' AND n_chars >= 100),
         |keep AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
         |b AS (SELECT g.doc_id,
         |    CAST(CAST(('0x' || substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS INTEGER) AS bucket,
         |    LEN($toksSql) AS n_tokens
         |  FROM gated g JOIN keep k ON g.doc_id = k.doc_id)
         |SELECT doc_id,
         |  CASE WHEN bucket < 9800 THEN 'train'
         |       WHEN bucket < 9900 THEN 'val' ELSE 'test' END AS split,
         |  CAST(n_tokens AS INTEGER) AS n_tokens
         |FROM b""".stripMargin)),
    // Custom Catalyst expressions through SQL text: the oracle
    // recomputes the raceid normalization and the self-dot (double
    // accumulation in array order — identical on both engines).
    QuerySpec("q_sql_custom_fn", Relational.sqlCustomFunctions(_, _), Some {
      val norm = raceIdSql("p_brand")
      s"""SELECT p_partkey, $norm AS norm_brand,
         |  list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq_norm,
         |  round(jaro_winkler_similarity(p_name, p_brand), 6) AS name_brand_sim
         |FROM part JOIN embeddings ON p_partkey = vec_id""".stripMargin
    }),
    // Full global sort: the compare re-sorts rows before hashing, so the
    // oracle checks CONTENT; the range-partitioned plan (the point of the
    // query) is pinned by SqlSurfaceSpec.
    QuerySpec("q_global_sort", Relational.globalSortLineitems(_, _), Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC""".stripMargin), scale = true),
    // ONE oracle pins the two-phase bucketed plan to the single-reducer
    // window's semantics: global row ids in (orderkey, linenumber) order
    // scale reason, shared with q_ks_test, q_mwu, q_interval_join, q_bloom_join,
    // q_seasonal, q_phash, q_rrf, q_semantic_decontam:
    // this session's verbs: ks/mwu ride the distinct-value histogram
    // (replica price/value decorrelation grows it realistically) through
    // the sliced prefix-sum core; row_ids is the two-phase numbering
    // (local windows over ~4096-key buckets + a |buckets| base join);
    // interval_join explodes ≤2 cells/interval into a (user, cell)
    // equi-join — candidates grow with per-user density, not corpus²;
    // bloom_join is the probe-then-join path (the probe should keep the
    // fact exchange ~constant as the dim stays selective); seasonal is
    // one grouped-aggregate scan; phash the codec map pass; rrf two
    // bounded top-100 arms over growing corpora; semantic_decontam the
    // broadcast eval screen (eval slice grows with the corpus here, so
    // watch it — production pins |eval| constant)
    QuerySpec("q_row_ids", Relational.globalRowIds(_, _), Some(
      """SELECT ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS row_id,
        |  l_orderkey, l_linenumber FROM lineitem""".stripMargin), scale = true),
    // the bloom probe only PRUNES — false positives die in the exact
    // join, so the oracle is the plain join+aggregate
    QuerySpec("q_bloom_join", Relational.bloomPrunedJoin(_, _), Some(
      """SELECT l.l_returnflag AS l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin), scale = true),
    // Keyed upsert: same synthetic re-crawl delta, latest revision per
    // key wins, non-updated base rows pass through.
    QuerySpec("q_upsert_refresh", graft.operators.Upsert.refreshedCorpus(_, _), Some(
      """WITH updates AS (
        |  SELECT doc_id, upper(text) AS text, 'recrawl' AS source, 1 AS rev
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id, text || ' v2' AS text, 'recrawl' AS source, 2 AS rev
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text, 'recrawl-new' AS source, 1 AS rev
        |  FROM documents WHERE doc_id % 13 = 0),
        |latest AS (
        |  SELECT doc_id, text, source FROM updates
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rev DESC) = 1),
        |merged AS (
        |  SELECT doc_id, text, source FROM latest
        |  UNION ALL
        |  SELECT doc_id, text, source FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM latest))
        |SELECT doc_id, source, md5(text) AS digest FROM merged""".stripMargin)),
    QuerySpec("q_summary_stats", Relational.summaryStats(_, _), Some(
      """SELECT l_returnflag, COUNT(*) AS n,
        |  round(AVG(l_extendedprice), 4) AS mean_price,
        |  round(stddev_samp(l_extendedprice), 4) AS sd_price,
        |  MIN(l_extendedprice) AS min_price,
        |  MAX(l_extendedprice) AS max_price,
        |  round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    QuerySpec("q_window_range", Relational.rollingHourValue(_, _), Some(
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS DOUBLE) / 100 AS hour_sum
        |FROM events""".stripMargin)),
    // Signups deduped to max(event_id) per (user_id, ts): DuckDB's ASOF
    // leaves equal-ts ties unspecified, while the Spark window picks the
    // highest event_id — pin the oracle to the same tie-break (ADVICE r01).
    QuerySpec("q_asof_join", Relational.purchaseAfterSignup(_, _), Some(
      """SELECT p.event_id AS event_id, p.user_id AS user_id,
        |  COALESCE(l.event_id, -1) AS prior_signup_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, MAX(event_id) AS event_id
        |                FROM events WHERE event_type = 'signup'
        |                GROUP BY user_id, ts) l
        |  ON p.user_id = l.user_id AND p.ts >= l.ts""".stripMargin)),
    // the native-operator formulation must match the composed one
    // bit-for-bit: ONE oracle, two physical plans
    QuerySpec("q_asof_native", Relational.purchaseAfterSignupNative(_, _), Some(
      """SELECT p.event_id AS event_id, p.user_id AS user_id,
        |  COALESCE(l.event_id, -1) AS prior_signup_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, MAX(event_id) AS event_id
        |                FROM events WHERE event_type = 'signup'
        |                GROUP BY user_id, ts) l
        |  ON p.user_id = l.user_id AND p.ts >= l.ts""".stripMargin), scale = true),
    QuerySpec("q_full_outer", (s, d) => Relational.customerOrdersFullOuter(s, d), Some(
      """SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_mktsegment,
        |  COALESCE(n_orders, 0) AS n_orders, total
        |FROM (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey <= 1000) c
        |FULL OUTER JOIN (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |  FROM orders GROUP BY o_custkey) o
        |ON c_custkey = o_custkey""".stripMargin)),
    // Same md5-bucket recipe as q_split_assign, keyed by event_id, with
    // per-class keep thresholds (click 10%, view 5%, rare classes 100%).
    QuerySpec("q_stratified_sample", graft.operators.Sampling.stratifiedEvents(_, _), Some(
      """SELECT event_id, event_type, user_id
        |FROM events
        |WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
        |  < CASE event_type WHEN 'click' THEN 1000 WHEN 'view' THEN 500 ELSE 10000 END""".stripMargin)),
    QuerySpec("q_group_sample", (s, d) => graft.operators.Sampling.groupSample(s, d), Some(
      """SELECT doc_id, lang, draw_rank FROM (
        |  SELECT doc_id, lang,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS draw_rank
        |  FROM documents)
        |WHERE draw_rank <= 20""".stripMargin)),
    QuerySpec("q_outliers", Relational.outlierEvents(_, _), Some(
      """WITH s AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        |           FROM events WHERE value IS NOT NULL GROUP BY 1
        |           HAVING stddev_samp(value) > 0)
        |SELECT e.event_id, e.event_type, e.value,
        |  round((e.value - s.mu) / s.sd, 4) AS z
        |FROM events e JOIN s ON e.event_type = s.event_type
        |WHERE e.value IS NOT NULL AND abs(round((e.value - s.mu) / s.sd, 4)) > 2.5""".stripMargin)),
    // scale reason, shared with q_bm25, q_cooccurrence, q_ngram_novelty,
    // q_substring_dupes, q_weighted_sample, q_markov:
    // retrieval/association/sequence verbs (this round): bm25's term
    // filter sits under its agg, so the 100× scan feeds a ~1×-sized tf
    // relation (replica ciphers rotate the vocab away from the query
    // terms — exactly the selective-retrieval shape); cooccurrence's
    // pair relation is narrow zip_with arithmetic, counts shuffle
    // |replica vocab²|; substring_dupes' window relation is Σ tokens
    // narrow rows through one count + semi join; mad_outliers is two
    // bounded-state quantile passes; weighted_sample and markov ride
    // the WindowGroupLimit / user-keyed-window shapes already proven
    QuerySpec("q_mad_outliers", Relational.madOutlierEvents(_, _), Some(
      """WITH m AS (SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
        |           FROM events WHERE value IS NOT NULL GROUP BY 1),
        |a AS (SELECT e.event_id, e.event_type, e.value, m.med,
        |        abs(e.value - m.med) AS absdev
        |      FROM events e JOIN m ON e.event_type = m.event_type
        |      WHERE e.value IS NOT NULL),
        |d AS (SELECT event_type, round(quantile_cont(absdev, 0.5), 4) AS mad
        |      FROM a GROUP BY 1 HAVING round(quantile_cont(absdev, 0.5), 4) > 0)
        |SELECT a.event_id, a.event_type, a.value,
        |  round(0.6745 * (a.value - a.med) / d.mad, 4) AS rz
        |FROM a JOIN d ON a.event_type = d.event_type
        |WHERE abs(round(0.6745 * (a.value - a.med) / d.mad, 4)) > 3.5""".stripMargin), scale = true),
    QuerySpec("q_decile_stats", Relational.decileStats(_, _), Some {
      val qs = (1 to 9).map(k =>
        s"round(quantile_cont(value, 0.${k}), 4) AS p${k * 10}").mkString(",\n|         ")
      val cases = (1 to 9).map(k =>
        s"(CASE WHEN e.value > b.p${k * 10} THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH b AS (SELECT event_type,
         |         $qs
         |       FROM events WHERE value IS NOT NULL GROUP BY 1),
         |e AS (SELECT e.event_type, e.value,
         |        CAST(1 + $cases AS INTEGER) AS decile
         |      FROM events e JOIN b ON e.event_type = b.event_type
         |      WHERE e.value IS NOT NULL)
         |SELECT event_type, decile, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
         |  MIN(value) AS lo, MAX(value) AS hi
         |FROM e GROUP BY 1, 2""".stripMargin
    }, scale = true),
    // joint quintile grid: both boundary sets mirrored via quantile_cont
    // (same interpolation the quantile core reproduces), same bucketing
    // scale reason, shared with q_minhash_sig, q_decontaminate_bloom,
    // q_dedup_clusters_lsh:
    // r14 session-2 restructures (the re-sweep-after-restructure rule):
    // the KM signature pass (one md5 per shingle, no distinct), the
    // portable bloom (filter size grows with the benchmark slice), the
    // quantile grid, and full-corpus LSH clusters (touched-node CC loop)
    // bnlj: the bounded quantile grid against the value domain
    QuerySpec("q_quantile_grid", (s, d) => Relational.quantileGrid(s, d), Some {
      val bx = Seq(20, 40, 60, 80).map(k =>
        s"round(quantile_cont(l_extendedprice, 0.$k), 4) AS x$k").mkString(", ")
      val by = Seq(20, 40, 60, 80).map(k =>
        s"round(quantile_cont(l_quantity, 0.$k), 4) AS y$k").mkString(", ")
      val cx = Seq(20, 40, 60, 80).map(k =>
        s"(CASE WHEN l_extendedprice > x$k THEN 1 ELSE 0 END)").mkString(" + ")
      val cy = Seq(20, 40, 60, 80).map(k =>
        s"(CASE WHEN l_quantity > y$k THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH bx AS (SELECT $bx FROM lineitem),
         |by AS (SELECT $by FROM lineitem),
         |e AS (SELECT CAST(1 + $cx AS INTEGER) AS x_bucket,
         |        CAST(1 + $cy AS INTEGER) AS y_bucket, l_extendedprice
         |      FROM lineitem CROSS JOIN bx CROSS JOIN by)
         |SELECT x_bucket, y_bucket, COUNT(*) AS n,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
         |FROM e GROUP BY 1, 2""".stripMargin
    }, scale = true, bnlj = true),
    // scale reason, shared with q_scd2, q_gap_fill:
    // temporal/screening verbs (late r7): scd2 is the one-exchange
    // lag-filter-lead stack; gap_fill's spine grows with |users × span
    // hours| (replicas add users, so the spine scales linearly); winsorize
    // is the bounded-state quantile core + a broadcast clip pass
    QuerySpec("q_winsorize", Relational.winsorizedEvents(_, _), Some(
      """WITH s AS (SELECT event_type, round(quantile_cont(value, 0.05), 4) AS p5,
        |                  round(quantile_cont(value, 0.95), 4) AS p95
        |           FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  least(greatest(e.value, s.p5), s.p95) AS value_w
        |FROM events e JOIN s ON e.event_type = s.event_type
        |WHERE e.value IS NOT NULL""".stripMargin), scale = true),
    QuerySpec("q_weighted_sample", (s, d) => graft.operators.Sampling.weightedSample(s, d), Some(
      s"""WITH d AS (SELECT doc_id, lang,
         |             CAST(LEN($toksSql) AS INTEGER) AS w
         |           FROM documents),
         |k AS (SELECT doc_id, lang, w,
         |        ln((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |              % 1000000 AS DOUBLE) + 1) / 1000001.0) / w AS key
         |      FROM d WHERE w > 0)
         |SELECT doc_id, lang, w, round(key, 6) AS draw_key, draw_rank FROM (
         |  SELECT doc_id, lang, w, key,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY key DESC, doc_id) AS INTEGER) AS draw_rank
         |  FROM k)
         |WHERE draw_rank <= 20""".stripMargin), scale = true),
    // one global permutation order — the oracle's single row_number and
    // the engine's two-phase (bucket-local rank + bucket base) position
    // must agree exactly because the bucket is the key's own prefix
    QuerySpec("q_epoch_shuffle", (s, d) => graft.operators.Sampling.epochShuffle(s, d), Some(
      """SELECT doc_id, k, ROW_NUMBER() OVER (ORDER BY k, doc_id) - 1 AS pos
        |FROM (SELECT doc_id, md5('epoch8:' || CAST(doc_id AS VARCHAR)) AS k
        |      FROM documents)""".stripMargin), scale = true),
    // Mixture resampling: integer keep-rate thresholds (num·total·10000
    // ÷ den·n_class, floored, capped at 10000) + the shared md5-bucket
    // contract — both engines compute bit-identical samples.
    QuerySpec("q_mixture_resample", graft.operators.Sampling.mixtureResample(_, _), Some(
      """WITH c AS (SELECT lang, COUNT(*) AS n_lang,
        |             SUM(COUNT(*)) OVER () AS total
        |           FROM documents GROUP BY lang),
        |r AS (SELECT lang,
        |        CAST(least(10000, (CASE lang WHEN 'en' THEN 5 WHEN 'es' THEN 3 ELSE 2 END)
        |                     * total * 10000 // (10 * n_lang)) AS BIGINT) AS thr
        |      FROM c)
        |SELECT d.doc_id, d.lang, r.thr
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
        |      < r.thr""".stripMargin)),
    // Snapshot diff: version B = the upsert-refresh corpus minus a
    // deterministic deletion slice; statuses from one digest full-outer.
    QuerySpec("q_snapshot_diff", graft.operators.Upsert.snapshotDiffCorpus(_, _), Some(
      """WITH updates AS (
        |  SELECT doc_id, upper(text) AS text, 1 AS rev
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id, text || ' v2' AS text, 2 AS rev
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text, 1 AS rev
        |  FROM documents WHERE doc_id % 13 = 0),
        |latest AS (
        |  SELECT doc_id, text FROM updates
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rev DESC) = 1),
        |merged AS (
        |  SELECT doc_id, text FROM latest
        |  UNION ALL
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM latest)),
        |b AS (SELECT doc_id, md5(text) AS db FROM merged WHERE doc_id % 11 <> 3),
        |a AS (SELECT doc_id, md5(text) AS da FROM documents)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN da = db THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id""".stripMargin)),
    // Schema evolution: gen-1 rows (even event_id) predate `value`; the
    // merged read surfaces NULL there and the aggregate is null-correct.
    QuerySpec("q_schema_evolution", Roundtrip.schemaEvolutionEvents(_, _), Some(
      """WITH m AS (
        |  SELECT event_type, CAST(NULL AS DECIMAL(12,2)) AS v
        |  FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v
        |  FROM events WHERE event_id % 2 = 1)
        |SELECT event_type, COUNT(*) AS n, COUNT(v) AS n_with_value,
        |  CAST(SUM(v) AS DOUBLE) AS total_value
        |FROM m GROUP BY event_type""".stripMargin)),
    QuerySpec("q_udaf_spread", SpreadAggregator.priceSpreadByStatus(_, _), Some(
      """SELECT o_orderstatus, MAX(o_totalprice) - MIN(o_totalprice) AS price_spread,
        |  COUNT(*) AS n FROM orders GROUP BY o_orderstatus""".stripMargin)),
    // --- dedup -----------------------------------------------------------
    // may be empty: a small corpus can hold no exact duplicate
    QuerySpec("q_dedup_exact_groups", Dedup.exactDupGroups(_, _), Some(
      """SELECT md5(text) AS digest, COUNT(*) AS n, MIN(doc_id) AS keeper
        |FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1""".stripMargin), mayBeEmpty = true),
    QuerySpec("q_dedup_survivors", Dedup.exactDedupSurvivors(_, _), Some(
      "SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)"), scale = true),
    // incremental dedup: the batch's genuinely-new docs survive, the
    // re-crawled copies of indexed content anti-join away
    // scale reason, shared with q_spj_join:
    // incremental dedup rides two digest scans + one anti-join shuffle
    // (both sides grow with the factor — expect ~linear); the SPJ join
    // is the shuffle-free fact⋈fact (first touch builds both bucketed
    // tables; steady-state reps measure the aligned merge itself)
    QuerySpec("q_incremental_dedup", Dedup.incrementalDedup(_, _), Some(
      """WITH idx AS (SELECT DISTINCT md5(text) AS digest
        |  FROM documents WHERE doc_id % 3 <> 0),
        |batch AS (
        |  SELECT doc_id, source, md5(text) AS digest
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 50000000, 'recrawl', md5(text)
        |  FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0)
        |SELECT b.doc_id, b.source, b.digest FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.digest = b.digest)""".stripMargin), scale = true),
    // may be empty: a small corpus can hold no near-duplicate pair
    QuerySpec("q_ngram_jaccard", Dedup.ngramJaccardPairs(_, _),
      Some(jaccardOracleSql), mayBeEmpty = true),
    QuerySpec("q_jaccard_prefix", (s, d) => Dedup.prefixJaccardPairs(s, d), Some(jaccardOracleSql)),
    // Edit-distance tier: co-shingle candidates refined by exact
    // Levenshtein with a 20%-of-longer-text budget (levenshtein is the
    // classic DP distance in both engines).
    QuerySpec("q_fuzzy_edit", (s, d) => Dedup.fuzzyEditPairs(s, d), Some(
      """WITH pos AS (
        |  SELECT doc_id, text, unnest(range(1, GREATEST(LENGTH(text) - 14, 1) + 1)) AS i
        |  FROM documents WHERE doc_id < 200),
        |sh AS (
        |  SELECT DISTINCT doc_id, substring(text, CAST(i AS INTEGER), 15) AS sh FROM pos),
        |cand AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id HAVING COUNT(*) >= 10),
        |t AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |scored AS (
        |  SELECT a, b,
        |    CAST(floor(GREATEST(LENGTH(ta.text), LENGTH(tb.text)) * 0.2) AS INTEGER) AS budget,
        |    CAST(levenshtein(ta.text, tb.text) AS INTEGER) AS edit_dist
        |  FROM cand JOIN t ta ON ta.doc_id = a JOIN t tb ON tb.doc_id = b
        |  WHERE abs(LENGTH(ta.text) - LENGTH(tb.text))
        |        <= floor(GREATEST(LENGTH(ta.text), LENGTH(tb.text)) * 0.2))
        |SELECT a, b, edit_dist FROM scored WHERE edit_dist <= budget""".stripMargin)),
    // MinHash-LSH near-dup pairs: the portable KM signatures (one md5
    // per shingle, m_j = min(h1 + j*h2), j<64), 16 four-row bands keyed
    // by the 60-bit md5 prefix of the comma-joined minima, candidate
    // equi-join, est = equal-position fraction; eq >= 32 <=> est >= 0.5
    // may be empty: a small corpus can hold no near-duplicate pair
    QuerySpec("q_minhash_neardups", (s, d) => Dedup.minhashNearDups(s, d), Some(
      s"""WITH $minhashPairsSql
         |SELECT a, b, CAST(eq AS DOUBLE) / 64 AS est_jaccard
         |FROM mm WHERE eq >= 32""".stripMargin), scale = true, mayBeEmpty = true),
    // portable (md5-keyed) MinHash signatures — the hash-matched twin of
    // the xxhash64 rows-only tier; 15 hex digits = 60 bits, positive
    // BIGINT on both engines
    QuerySpec("q_minhash_sig", (s, d) => Dedup.minhashSigExact(s, d), Some(
      """WITH pos AS (
        |  SELECT doc_id, text, unnest(range(1, GREATEST(LENGTH(text) - 14, 1) + 1)) AS i
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INTEGER), 15) AS sh FROM pos),
        |h AS (SELECT doc_id,
        |    CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5(sh), 9, 8) AS BIGINT) AS h2
        |  FROM sh)
        |SELECT doc_id, CAST(k.k AS INTEGER) AS perm,
        |  MIN(h1 + k.k * h2) AS minhash
        |FROM h CROSS JOIN (SELECT unnest(range(16)) AS k) k GROUP BY 1, 2""".stripMargin), scale = true),
    // SimHash near-dups: fingerprints from md5-packed token hashes
    // (bit j of Σ±1 per token; bit 63 enters the signed BIGINT as
    // -2^63), 4×16-bit band candidates, Hamming = bit_count(xor) <= 3
    // scale reason, shared with q_exact_rate, q_jpeg_decode:
    // eighth wave: exact_rate pays one events scan + a purchase-count-
    // sized outcome axis (corpus-linear in the conditioned total);
    // jpeg_decode is the executor-local encode+decode scan shape;
    // simhash rides the md5-packed portable token hashes since r13
    QuerySpec("q_simhash_neardups", (s, d) => Dedup.simhashNearDups(s, d), Some(
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |      AS tok
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) AS h2
        |  FROM toks),
        |bits AS (SELECT doc_id, j.j AS j,
        |    SUM((CASE WHEN j.j < 32 THEN (h2 >> j.j) & 1
        |      ELSE (h1 >> (j.j - 32)) & 1 END) * 2 - 1) AS s
        |  FROM h CROSS JOIN (SELECT unnest(range(64)) AS j) j
        |  GROUP BY 1, 2),
        |fp AS (SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN
        |      CASE WHEN j = 63 THEN -9223372036854775808
        |        ELSE (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) END
        |      ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY 1),
        |banded AS (SELECT doc_id, simhash, b.b AS band,
        |    (simhash >> (CAST(b.b AS INTEGER) * 16)) & 65535 AS bucket
        |  FROM fp CROSS JOIN (SELECT unnest(range(4)) AS b) b),
        |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
        |    l.simhash AS fa, r.simhash AS fb
        |  FROM banded l JOIN banded r
        |    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
        |SELECT a, b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(fa, fb)) <= 3""".stripMargin), scale = true),
    // bnlj: a bounded broadcast probe set scored against every corpus row
    // may be empty: a small corpus can hold no near-duplicate pair
    QuerySpec("q_embedding_neardups", (s, d) => Dedup.embeddingNearDups(s, d), Some(
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings WHERE vec_id < 300),
        |p AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    list_sum(list_transform(x.embedding,
        |      (v, i) -> CAST(v AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))) / (x.norm * y.norm) AS cosine
        |  FROM e x JOIN e y ON x.vec_id < y.vec_id)
        |SELECT a, b, cosine FROM p WHERE cosine >= 0.999""".stripMargin), bnlj = true, mayBeEmpty = true),
    // Connected components over the same exact-Jaccard edges, as a
    // recursive transitive closure (bounded slice keeps it small).
    // eager: the iterative connected-components loop runs on build
    QuerySpec("q_dedup_clusters", (s, d) => Dedup.dupClusters(s, d), Some(
      s"""WITH RECURSIVE $clustersReachSql
         |SELECT u AS doc_id, MIN(v) AS cluster FROM reach GROUP BY u""".stripMargin), eager = true),
    // LSH dup clusters: connected components over the same portable
    // pair set — transitive closure by recursive CTE, min-id label
    QuerySpec("q_dedup_clusters_lsh", (s, d) => Dedup.dupClustersLsh(s, d), Some(
      s"""WITH RECURSIVE $minhashPairsSql,
         |jp AS (SELECT a, b FROM mm WHERE eq >= 32),
         |edges AS (SELECT a AS u, b AS v FROM jp
         |  UNION ALL SELECT b AS u, a AS v FROM jp),
         |reach AS (
         |  SELECT doc_id AS u, doc_id AS v FROM documents
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         |SELECT u AS doc_id, MIN(v) AS cluster FROM reach GROUP BY u""".stripMargin), scale = true),
    QuerySpec("q_cluster_reps", (s, d) => Dedup.clusterRepresentatives(s, d), Some(
      s"""WITH RECURSIVE $clustersReachSql,
         |cl AS (SELECT u AS doc_id, MIN(v) AS cluster FROM reach GROUP BY u),
         |q AS (SELECT doc_id, $qualityScoreSql AS quality_score
         |      FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)),
         |j AS (SELECT cl.cluster, cl.doc_id, q.quality_score FROM cl JOIN q ON cl.doc_id = q.doc_id),
         |r AS (SELECT cluster, COUNT(*) AS cluster_size FROM j GROUP BY 1),
         |b AS (SELECT cluster, doc_id AS rep_id, quality_score AS rep_quality,
         |        ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY quality_score DESC, doc_id ASC) AS rn
         |      FROM j)
         |SELECT b.cluster, r.cluster_size, b.rep_id, b.rep_quality
         |FROM b JOIN r ON b.cluster = r.cluster WHERE b.rn = 1""".stripMargin)),
    // the native Jaro-Winkler expression tracks DuckDB's
    // jaro_winkler_similarity exactly (incl. the empty-empty = 0 edge
    // and the 0.7 boost threshold) — same doubles, same ranking
    QuerySpec("q_jaro_link", (s, d) => Dedup.linkDirtyNames(s, d), Some(
      """WITH d AS (SELECT p_partkey,
        |    substr(p_name, 1, 1) || substr(p_name, 3, 1) ||
        |    substr(p_name, 2, 1) || substr(p_name, 4, 1000) AS dirty
        |  FROM part),
        |c AS (SELECT DISTINCT p_name AS clean FROM part),
        |cand AS (SELECT d.p_partkey, d.dirty, c.clean,
        |    jaro_winkler_similarity(d.dirty, c.clean) AS sim
        |  FROM d JOIN c ON substr(d.dirty, 1, 1) = substr(c.clean, 1, 1)),
        |r AS (SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY p_partkey ORDER BY sim DESC, clean ASC) AS rn
        |  FROM cand)
        |SELECT p_partkey, dirty, clean, round(sim, 6) AS sim FROM r WHERE rn = 1""".stripMargin)),
    // --- similarity search ----------------------------------------------
    // bnlj: the 10 broadcast query vectors scored against every corpus row
    QuerySpec("q_knn_brute", (s, d) => Similarity.knnBrute(s, d), Some(
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, e.vec_id,
        |    list_sum(list_transform(e.embedding,
        |      (v, i) -> CAST(v AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))) / (e.norm * q.q_norm) AS cosine
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id)
        |SELECT q_id, vec_id AS neighbor_id, rank FROM (
        |  SELECT q_id, vec_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin), bnlj = true),
    // k-means assignment against the deterministic vec_id<8 centroids:
    // identical index-ordered float dots on both engines (the knn_brute
    // contract), min-reduction by (cosine desc, centroid asc)
    // bnlj: 8 broadcast centroids × corpus — the knn_brute shape
    QuerySpec("q_kmeans_assign", (s, d) => Similarity.kmeansAssign(s, d), Some(
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings),
        |c AS (SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm FROM e WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, c.c_id,
        |    CASE WHEN e.norm * c.c_norm = 0 THEN 0.0
        |         ELSE list_sum(list_transform(e.embedding,
        |           (v, i) -> CAST(v AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE))) / (e.norm * c.c_norm) END AS cosine
        |  FROM e CROSS JOIN c)
        |SELECT vec_id, c_id AS cluster, round(cosine, 6) AS cosine FROM (
        |  SELECT vec_id, c_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, c_id ASC) AS rn
        |  FROM scored) WHERE rn = 1""".stripMargin), bnlj = true),
    // semantic decontamination: nearest eval-slice neighbor per train
    // vector (knn_brute float-dot contract), flag at the τ threshold
    // bnlj: bounded broadcast eval set × corpus (decontaminate contract)
    QuerySpec("q_semantic_decontam", (s, d) => Similarity.semanticDecontaminate(s, d), Some(
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings),
        |ev AS (SELECT vec_id AS eval_id, embedding AS e_emb, norm AS e_norm
        |       FROM e WHERE vec_id % 7 = 0 AND vec_id < 3500),
        |tr AS (SELECT * FROM e WHERE vec_id % 7 <> 0 OR vec_id >= 3500),
        |scored AS (
        |  SELECT tr.vec_id, ev.eval_id,
        |    CASE WHEN tr.norm * ev.e_norm = 0 THEN 0.0
        |         ELSE list_sum(list_transform(tr.embedding,
        |           (v, i) -> CAST(v AS DOUBLE) * CAST(ev.e_emb[i] AS DOUBLE))) / (tr.norm * ev.e_norm) END AS cosine
        |  FROM tr CROSS JOIN ev)
        |SELECT vec_id AS train_id, eval_id, round(cosine, 6) AS cosine,
        |  cosine >= 0.45 AS contaminated
        |FROM (SELECT vec_id, eval_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, eval_id ASC) AS rn
        |  FROM scored) WHERE rn = 1""".stripMargin), scale = true, bnlj = true),
    // RRF: lexical arm ranks on the ROUNDED bm25 (4 dp, the pinned
    // granularity) with doc_id tiebreak; semantic arm on raw cosine per
    // the knn_brute contract; absent ranks 0 (nullable-int dtype rule)
    // bnlj: 1-row bm25 stats + 1-row query vector
    QuerySpec("q_rrf", (s, d) => TextAnalysis.rrfHybrid(s, d), Some(
      s"""WITH d AS (SELECT doc_id, t, CAST(LEN(t) AS DOUBLE) AS dl
         |           FROM (SELECT doc_id, $toksSql AS t FROM documents)
         |           WHERE LEN(t) > 0),
         |stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM d),
         |tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf
         |       FROM (SELECT doc_id, dl, unnest(t) AS token FROM d)
         |       WHERE token IN ('hash', 'join', 'scan') GROUP BY 1, 2, 3),
         |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |bm AS (SELECT doc_id,
         |  round(SUM(ln((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) + 1)
         |    * (tf * CAST(2.2 AS DOUBLE))
         |    / (tf + CAST(1.2 AS DOUBLE)
         |         * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))), 4) AS bm25
         |  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN stats
         |  GROUP BY doc_id),
         |lex AS (SELECT doc_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INTEGER) AS r_lex
         |  FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id ASC LIMIT 100)),
         |e AS (SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
         |  FROM embeddings),
         |q AS (SELECT embedding AS q_emb, norm AS q_norm FROM e WHERE vec_id = 0),
         |sc AS (SELECT e.vec_id,
         |    CASE WHEN e.norm * q.q_norm = 0 THEN 0.0
         |         ELSE list_sum(list_transform(e.embedding,
         |           (v, i) -> CAST(v AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))) / (e.norm * q.q_norm) END AS cosine
         |  FROM e CROSS JOIN q WHERE e.vec_id <> 0),
         |sem AS (SELECT vec_id AS doc_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS r_sem
         |  FROM (SELECT * FROM sc ORDER BY cosine DESC, vec_id ASC LIMIT 100))
         |SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         |  COALESCE(r_lex, 0) AS r_lex, COALESCE(r_sem, 0) AS r_sem,
         |  round(CASE WHEN r_lex IS NOT NULL THEN CAST(1 AS DOUBLE) / (r_lex + 60) ELSE 0 END +
         |    CASE WHEN r_sem IS NOT NULL THEN CAST(1 AS DOUBLE) / (r_sem + 60) ELSE 0 END, 6) AS rrf
         |FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id""".stripMargin), scale = true, bnlj = true),
    // Random-hyperplane LSH: seeded planes as literals, bucket signs and
    // cosine re-rank on the q_knn_brute sequential-double device
    // (generated, see annLshOracleSql)
    QuerySpec("q_ann_lsh", (s, d) => Similarity.annCosine(s, d), Some(annLshOracleSql())),
    // IVF ANN: Lloyd's training unrolled round by round on the q9
    // centroid channel (generated, see annIvfOracleSql)
    // eager: the IVF centroids are trained on the driver on build
    QuerySpec("q_ann_ivf", (s, d) => Similarity.ivfCosine(s, d),
      Some(annIvfOracleSql()), eager = true),
    // Corpus-wide LSH self-join + kNN graph: self-scaling bits recomputed
    // in SQL, maxBucket backstop, mirrored-pair scoring (generated, see
    // annSelfJoinCoreSql)
    // scale: the operator's own self-scaling bits (log2 of corpus count,
    // constant occupancy) — the production path
    QuerySpec("q_ann_selfjoin", (s, d) => Similarity.annSelfJoin(s, d), Some(annSelfJoinCoreSql() +
      "\nSELECT q_id, neighbor_id, rank, cosine FROM topk"), scale = true),
    // scale reason, shared with q_audio_spectrum, q_time_to_convert:
    // r12 verbs: the spectral fold is executor-local per-row codec +
    // O(bins·frame) integer work (same shape as audio_features); the
    // kNN graph rides the self-join's occupancy model plus one |V|k
    // equi-join for the mutual flag
    QuerySpec("q_knn_graph", (s, d) => Similarity.knnGraph(s, d), Some(annSelfJoinCoreSql() +
      """
        |SELECT t.q_id AS src, t.neighbor_id AS dst, t.rank, t.cosine,
        |  (r.q_id IS NOT NULL) AS mutual
        |FROM topk t LEFT JOIN topk r
        |  ON r.q_id = t.neighbor_id AND r.neighbor_id = t.q_id""".stripMargin), scale = true),
    // PQ ANN: per-subspace Lloyd's + encoding + ADC on the q9 channel
    // (generated, see annPqOracleSql)
    // scale reason, shared with q_quantized_knn, q_semantic_dedup, q_countmin:
    // round-8 vector-layout verbs: quantized_knn broadcasts 10 query
    // code vectors against a factor× corpus scan (map-side top-k);
    // ann_pq's codebook training samples a bounded set but encoding
    // touches every vector; semantic_dedup rides the banded self-join's
    // occupancy model like ann_selfjoin; countmin's shuffle is the
    // constant d×w grid regardless of input rows
    // eager: the PQ codebooks are trained on the driver on build
    QuerySpec("q_ann_pq", (s, d) => Similarity.pqCosine(s, d),
      Some(annPqOracleSql()), scale = true, eager = true),
    // int8 codes rebuilt bit-identically: floor-based round-half-up on the
    // same IEEE double expression; integer dots are exact in doubles, so
    // qcos/qnorm agree to the last bit
    // bnlj: same tiny-query-set × corpus shape as q_knn_brute, on int8 codes
    QuerySpec("q_quantized_knn", (s, d) => Quantization.quantizedKnn(s, d), Some(
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS s
        |  FROM embeddings),
        |q8 AS (
        |  SELECT vec_id,
        |    CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
        |         ELSE list_transform(v, x -> floor(x * 127.0 / s + 0.5)) END AS codes
        |  FROM e),
        |n8 AS (SELECT vec_id, codes,
        |         sqrt(list_sum(list_transform(codes, x -> x * x))) AS qnorm FROM q8),
        |qq AS (SELECT vec_id AS q_id, codes AS q_codes, qnorm AS q_qnorm
        |       FROM n8 WHERE vec_id < 10),
        |scored AS (
        |  SELECT qq.q_id, n8.vec_id,
        |    CASE WHEN n8.qnorm * qq.q_qnorm = 0 THEN 0.0
        |         ELSE list_sum(list_transform(n8.codes, (v, i) -> v * qq.q_codes[i]))
        |              / (n8.qnorm * qq.q_qnorm) END AS qcos
        |  FROM n8 CROSS JOIN qq WHERE n8.vec_id <> qq.q_id)
        |SELECT q_id, vec_id AS neighbor_id, rank, qcos FROM (
        |  SELECT q_id, vec_id, qcos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY qcos DESC, vec_id ASC) AS INTEGER) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin), scale = true, bnlj = true),
    // sign bits packed to two exact-in-double 32-bit words, Hamming =
    // xor + popcount per word — codes, distances, ranks all bit-equal
    // scale reason, shared with q_inverted_index, q_readability, q_bootstrap_ci,
    // q_unigram_train:
    // round-10 final-session verbs: the inverted index is two map-side-
    // combined aggregations whose shuffles are (token,doc)- then
    // |vocab|-sized — replicas share a vocabulary, so expect sublinear;
    // readability is a pure codegen'd scan (linear at worst); the
    // Poisson bootstrap explodes ×50 replicas but combines map-side to
    // 50 groups, so it should ride the scan term; unigram training
    // collapses to (word,count) once and runs EM on the vocabulary —
    // the factor should barely show; binary kNN is a broadcast
    // 10-query × corpus scan over two packed words per row
    // bnlj: same shape again, on two packed sign words per vector
    QuerySpec("q_binary_knn", (s, d) => Quantization.binaryKnn(s, d), Some(
      """WITH p AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(embedding[1:32],
        |      (x, i) -> CASE WHEN CAST(x AS DOUBLE) > 0 THEN 2.0 ** (i - 1) ELSE 0.0 END)) AS BIGINT) AS w0,
        |    CAST(list_sum(list_transform(embedding[33:64],
        |      (x, i) -> CASE WHEN CAST(x AS DOUBLE) > 0 THEN 2.0 ** (i - 1) ELSE 0.0 END)) AS BIGINT) AS w1
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, w0 AS qw0, w1 AS qw1 FROM p WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, p.vec_id,
        |    CAST(bit_count(xor(p.w0, q.qw0)) + bit_count(xor(p.w1, q.qw1)) AS INT) AS hamming
        |  FROM p CROSS JOIN q WHERE p.vec_id <> q.q_id)
        |SELECT q_id, vec_id AS neighbor_id, rank, hamming FROM (
        |  SELECT q_id, vec_id, hamming,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamming ASC, vec_id ASC) AS INTEGER) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin), scale = true, bnlj = true),
    // Poisson bootstrap: md5-derived Poisson(1) multiplicities (one
    // 128-bit hash feeds TWO replicas via disjoint 60-bit chunks),
    // exact cents, one final division per replica — no double
    // accumulation
    QuerySpec("q_bootstrap_ci", (s, d) => Stats.bootstrapMeans(s, d), Some(
      """WITH h AS (
        |  SELECT CAST(ROUND(e.value * 100) AS BIGINT) AS cents,
        |    CAST(r.range AS INT) AS j,
        |    md5(CAST(e.event_id AS VARCHAR) || '_' ||
        |      CAST(CAST(r.range AS INT) AS VARCHAR)) AS hex
        |  FROM events e CROSS JOIN range(0, 13) r),
        |uu AS (
        |  SELECT cents, j * 4 + CAST(r2.range AS INT) AS b,
        |    CAST(CAST(('0x' || substr(hex, 1 + 8 * CAST(r2.range AS INT), 8)) AS BIGINT)
        |      AS DOUBLE) / (2.0 ^ 32) AS u
        |  FROM h CROSS JOIN range(0, 4) r2
        |  WHERE j * 4 + CAST(r2.range AS INT) < 50),
        |m AS (
        |  SELECT b, cents,
        |    CASE
        |      WHEN u < 0.36787944117144233 THEN 0
        |      WHEN u < 0.7357588823428847 THEN 1
        |      WHEN u < 0.9196986029286058 THEN 2
        |      WHEN u < 0.9810118431238462 THEN 3
        |      WHEN u < 0.9963401531726563 THEN 4
        |      WHEN u < 0.9994058151824183 THEN 5
        |      ELSE 6 END AS m
        |  FROM uu)
        |SELECT b, CAST(SUM(m) AS BIGINT) AS n_eff,
        |  CAST(SUM(m * cents) AS BIGINT) AS sum_cents,
        |  ROUND(CASE WHEN SUM(m) > 0
        |    THEN CAST(SUM(m * cents) AS DOUBLE) / (CAST(SUM(m) AS DOUBLE) * 100)
        |    END, 6) AS boot_mean
        |FROM m GROUP BY b""".stripMargin), scale = true),
    QuerySpec("q_quant_error", (s, d) => Quantization.quantError(s, d), Some(
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS s
        |  FROM embeddings),
        |q8 AS (
        |  SELECT vec_id, v, s,
        |    CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
        |         ELSE list_transform(v, x -> floor(x * 127.0 / s + 0.5)) END AS codes
        |  FROM e),
        |err AS (
        |  SELECT vec_id, s,
        |    COALESCE(list_max(list_transform(v, (x, i) -> abs(x - codes[i] * s / 127.0))), 0.0) AS recon_err
        |  FROM q8)
        |SELECT COUNT(*) AS n_vectors, MAX(recon_err) AS max_recon_err,
        |  CAST(SUM(CASE WHEN recon_err <= s / 254.0 + 1e-9 THEN 0 ELSE 1 END) AS BIGINT) AS n_over_bound
        |FROM err""".stripMargin)),
    // SemDeDup: the same self-join core, edges at cosine >= 0.999 (the
    // threshold filter on the identical mirrored double), clusters via
    // the q_dedup_clusters_lsh transitive-closure min-label replay
    // eager: the iterative connected-components loop runs on build
    QuerySpec("q_semantic_dedup", (s, d) => Dedup.semanticDedup(s, d), Some(annSelfJoinCoreSql(recursive = true) +
      """,
        |sd_edges AS (
        |  SELECT a_id AS u, b_id AS v FROM scored WHERE cosine >= 0.999
        |  UNION ALL
        |  SELECT b_id AS u, a_id AS v FROM scored WHERE cosine >= 0.999),
        |sd_reach AS (
        |  SELECT vec_id AS u, vec_id AS v FROM embeddings
        |  UNION
        |  SELECT r.u, e2.v FROM sd_reach r JOIN sd_edges e2 ON r.v = e2.u)
        |SELECT u AS vec_id, MIN(v) AS cluster, (u = MIN(v)) AS keep
        |FROM sd_reach GROUP BY u""".stripMargin), scale = true, eager = true),
    // the md5 double-hashing family makes the WHOLE sketch reproducible in
    // SQL — build and probe hash-match, unlike the rows-only sketch tier
    QuerySpec("q_countmin", (s, d) => CountMin.heavyKeys(s, d), Some(
      """WITH h AS (
        |  SELECT user_id,
        |    CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS h1,
        |    CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 9, 8) AS BIGINT) | 1 AS h2
        |  FROM events),
        |b AS (SELECT user_id, j, CAST((h1 + j * h2) % 64 AS INTEGER) AS bucket
        |      FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)),
        |sketch AS (SELECT j AS row_id, bucket, COUNT(*) AS n FROM b GROUP BY 1, 2),
        |exact AS (SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY 1
        |          ORDER BY exact_n DESC, user_id ASC LIMIT 20),
        |hh AS (SELECT DISTINCT user_id, h1, h2 FROM h),
        |probes AS (
        |  SELECT e.user_id, e.exact_n, j.j AS row_id,
        |    CAST((hh.h1 + j.j * hh.h2) % 64 AS INTEGER) AS bucket
        |  FROM exact e JOIN hh ON e.user_id = hh.user_id
        |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) j)
        |SELECT p.user_id, p.exact_n, MIN(s.n) AS cms_est
        |FROM probes p JOIN sketch s ON p.row_id = s.row_id AND p.bucket = s.bucket
        |GROUP BY 1, 2""".stripMargin), scale = true),
    // portable HLL: registers from the md5 60-bit prefix (top 9 bits =
    // bucket, rank from the highest set bit of the 51-bit suffix —
    // MAX(rank) == rank(MIN(w)) since rank is non-increasing in w), the
    // harmonic denominator summed as exact 2^(52-r) longs, and the
    // estimate a single mirrored double expression. Hash-matches the
    // estimate INCLUDING false positives of the sketch itself.
    QuerySpec("q_hll_portable", (s, d) => HllPortable.distinctUsers(s, d), Some(
      """WITH h AS (SELECT event_type AS g,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |parts AS (SELECT g, h >> 51 AS bkt,
        |    h & ((CAST(1 AS BIGINT) << 51) - 1) AS w FROM h),
        |wmin AS (SELECT g, bkt, MIN(w) AS wmin FROM parts GROUP BY 1, 2),
        |occ AS (SELECT g, bkt,
        |    CASE WHEN wmin = 0 THEN 52 ELSE
        |      (SELECT MIN(j.j) FROM (SELECT unnest(range(1, 52)) AS j) j
        |       WHERE (wmin >> CAST(51 - j.j AS INTEGER)) > 0) END AS r
        |  FROM wmin),
        |spine AS (SELECT gs.g, b.b AS bkt FROM (SELECT DISTINCT g FROM h) gs
        |  CROSS JOIN (SELECT unnest(range(512)) AS b) b),
        |regs AS (SELECT spine.g, spine.bkt, COALESCE(occ.r, 0) AS r
        |  FROM spine LEFT JOIN occ ON spine.g = occ.g AND spine.bkt = occ.bkt),
        |agg AS (SELECT g,
        |    CAST(SUM(CAST(1 AS BIGINT) << CAST(52 - r AS INTEGER)) AS BIGINT) AS sum_int,
        |    COUNT(CASE WHEN r = 0 THEN 1 END) AS v_zero
        |  FROM regs GROUP BY g),
        |est AS (SELECT g, sum_int, v_zero,
        |    (0.7213 / (1.0 + 1.079 / 512.0)) * 512 * 512 * 4503599627370496.0 / sum_int AS raw
        |  FROM agg)
        |SELECT g AS event_type,
        |  ROUND(CASE WHEN raw <= 1280.0 AND v_zero > 0
        |    THEN 512.0 * ln(512.0 / v_zero) ELSE raw END, 4) AS n_est,
        |  sum_int, v_zero
        |FROM est""".stripMargin)),
    // Rademacher JL projection on the rebuilt int8 codes: ±1 signs from
    // the shared md5 parity contract, pure integer sums (exact in
    // doubles) — CAST to BIGINT because list_sum of integer-valued
    // doubles surfaces as DOUBLE
    // scale reason, shared with q_psi_drift, q_js_divergence, q_chi2, q_linreg,
    // q_feature_hash:
    // drift/fit tier (r8 driver session): psi/jsd are one grouped-count
    // pass over events plus O(|types|×bins) term arithmetic; chi2 is
    // three marginal scans over documents; linreg is the
    // sufficient-statistics aggregate over lineitem — all should ride
    // their scan near-linearly. feature_hash shuffles |doc × distinct
    // bucket| rows (≤ 64/doc); rand_proj is the per-row HOF loop —
    // the one with real per-row arithmetic (8×64 mults) worth watching
    QuerySpec("q_rand_proj", (s, d) => Quantization.randomProjection(s, d), Some(
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS s
        |  FROM embeddings),
        |q8 AS (
        |  SELECT vec_id,
        |    CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
        |         ELSE list_transform(v, x -> floor(x * 127.0 / s + 0.5)) END AS codes
        |  FROM e)
        |SELECT q8.vec_id, CAST(j.j AS INTEGER) AS j,
        |  CAST(list_sum(list_transform(q8.codes, (v, i) ->
        |    v * CASE WHEN CAST('0x' || substr(md5(CAST(i - 1 AS VARCHAR) || '_' || CAST(j.j AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0
        |          THEN 1 ELSE -1 END)) AS BIGINT) AS proj
        |FROM q8 CROSS JOIN (SELECT unnest(range(8)) AS j) j""".stripMargin), scale = true),
    // hashing-trick featurizer: bucket = md5(token) % 64, the shared md5
    // contract; sparse relational output, nonzero features only
    QuerySpec("q_feature_hash", (s, d) => TextAnalysis.featureHash(s, d), Some(
      s"""SELECT doc_id,
         |  CAST(CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % 64 AS INTEGER) AS bucket,
         |  COUNT(*) AS tf
         |FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
         |GROUP BY 1, 2""".stripMargin), scale = true),
    // --- text analysis ---------------------------------------------------
    QuerySpec("q_top_tokens", (s, d) => TextAnalysis.topTokens(s, d), Some(
      s"""SELECT token, COUNT(*) AS n FROM (
         |  SELECT unnest($toksSql) AS token FROM documents)
         |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin)),
    QuerySpec("q_token_stats", TextAnalysis.tokenStats(_, _), Some(
      s"""SELECT doc_id, CAST(LEN(toks) AS INTEGER) AS n_tokens,
         |  CAST(LEN(list_distinct(toks)) AS INTEGER) AS n_distinct,
         |  CASE WHEN LEN(toks) > 0
         |    THEN CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE) / LEN(toks)
         |    ELSE NULL END AS avg_token_len
         |FROM (SELECT doc_id, $toksSql AS toks FROM documents)""".stripMargin)),
    QuerySpec("q_lang_id", TextAnalysis.languageId(_, _), Some(
      s"""SELECT doc_id, lang AS labeled_lang,
         |  CAST(LEN(list_filter(toks, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'to' OR x = 'in' OR x = 'is')) AS INTEGER) AS en_hits,
         |  CAST(LEN(list_filter(toks, x -> x = 'el' OR x = 'la' OR x = 'de' OR x = 'y' OR x = 'que' OR x = 'en' OR x = 'los')) AS INTEGER) AS es_hits,
         |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |       WHEN LEN(list_filter(toks, x -> x = 'el' OR x = 'la' OR x = 'de' OR x = 'y' OR x = 'que' OR x = 'en' OR x = 'los'))
         |          > LEN(list_filter(toks, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'to' OR x = 'in' OR x = 'is')) THEN 'es'
         |       ELSE 'en' END AS pred_lang
         |FROM (SELECT doc_id, lang, text, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents)""".stripMargin)),
    QuerySpec("q_quality_score", TextAnalysis.qualityScore(_, _), Some(
      s"""SELECT doc_id, CAST(LENGTH(text) AS INTEGER) AS n_chars,
         |  CAST(LEN(toks) AS INTEGER) AS n_tokens,
         |  CASE WHEN LENGTH(text) > 0
         |    THEN CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g')) AS DOUBLE) / LENGTH(text)
         |    ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN LENGTH(text) > 0
         |    THEN CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / LENGTH(text)
         |    ELSE 0.0 END AS upper_ratio,
         |  $qualityScoreSql AS quality_score
         |FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)""".stripMargin)),
    QuerySpec("q_fingerprint", TextAnalysis.fingerprints(_, _), Some(
      s"""SELECT doc_id, md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fingerprint
         |FROM documents""".stripMargin)),
    // BreadthOpsSpec replays the identical algorithm on the collected
    // word counts and pins the full rule sequence
    // BPE train: the same 8 unrolled rounds, emitting the learned rules
    // scale reason, shared with q_lm_score, q_session_window:
    // lm_score: two model count passes + a broadcast scoring join, all
    // riding the pair-stream scan; session_window: the native session
    // aggregate, one user-keyed exchange over factor× users; bpe_train:
    // the word-count pass grows with the corpus, every merge round runs
    // on the (constant-vocabulary) word relation
    // eager: the iterative merge training runs on build
    QuerySpec("q_bpe_train", (s, d) => TextAnalysis.bpeTrain(s, d),
      Some(bpeOracleSql(trainOnly = true)), scale = true, eager = true),
    // BPE apply: the 8 training rounds + segmentation replayed on the
    // wrapped-string encoding (generated, see bpeOracleSql)
    // scale reason, shared with q_logreg:
    // training loops: logreg = iters × (scan + k-column aggregate) —
    // should ride the scan; bpe_apply = retrain + broadcast-rule
    // map-side segmentation over factor× documents
    // eager: the iterative merge training runs on build
    QuerySpec("q_bpe_apply", (s, d) => TextAnalysis.bpeApply(s, d),
      Some(bpeOracleSql()), scale = true, eager = true),
    // Unigram-LM tokenizer: hard-EM rounds unrolled, Viterbi as a
    // recursive-CTE forward DP per word (generated, see unigramOracleSql)
    QuerySpec("q_unigram_train", (s, d) => TextAnalysis.unigramTrain(s, d),
      Some(unigramOracleSql(trainOnly = true)), scale = true),
    QuerySpec("q_unigram_apply", (s, d) => TextAnalysis.unigramApply(s, d),
      Some(unigramOracleSql(trainOnly = false))),
    // inverted index: (token, doc) term frequencies re-aggregated to
    // df/total_tf + an order-independent 60-bit-md5 XOR posting digest
    QuerySpec("q_inverted_index", (s, d) => TextAnalysis.invertedIndex(s, d), Some(
      """WITH tf AS (
        |  SELECT tok, doc_id, COUNT(*) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |    FROM documents)
        |  GROUP BY tok, doc_id)
        |SELECT tok, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
        |  bit_xor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT))
        |    AS postings_xor
        |FROM tf GROUP BY tok""".stripMargin), scale = true),
    // Flesch: integer sentence/word/syllable counts (regex runs), one
    // double expression per row — no accumulation-order hazard
    QuerySpec("q_readability", (s, d) => TextAnalysis.readability(s, d), Some(
      s"""SELECT doc_id, n_sentences, n_words, n_syllables,
         |  ROUND(CASE WHEN n_words > 0 THEN
         |    206.835 - 1.015 * CAST(n_words AS DOUBLE) / n_sentences
         |            - 84.6 * CAST(n_syllables AS DOUBLE) / n_words END, 4) AS flesch
         |FROM (
         |  SELECT doc_id,
         |    GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS INT), 1) AS n_sentences,
         |    CAST(len($toksSql) AS INT) AS n_words,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT) AS n_syllables
         |  FROM documents)""".stripMargin), scale = true),
    // Benford screen: first digit from INTEGER string length (a float
    // log10 can misclassify at exact powers of ten, engine-dependently)
    // bnlj: 1-row digit-count total against the 9-row digit relation
    QuerySpec("q_benford", (s, d) => Quality.benford(s, d), Some(
      """WITH d AS (
        |  SELECT CAST(FLOOR(o_totalprice /
        |    POWER(10, LENGTH(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR)) - 1))
        |    AS INT) AS digit
        |  FROM orders),
        |counts AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
        |SELECT digit, n,
        |  ROUND(CAST(n AS DOUBLE) / total, 6) AS observed_p,
        |  ROUND(LOG10(1.0 + 1.0 / digit), 6) AS expected_p,
        |  ROUND(POWER(CAST(n AS DOUBLE) - total * LOG10(1.0 + 1.0 / digit), 2)
        |    / (total * LOG10(1.0 + 1.0 / digit)), 4) AS chi2_contrib
        |FROM counts CROSS JOIN t""".stripMargin), bnlj = true),
    // last-touch attribution: most recent preceding non-purchase event
    // per user credits the purchase; no prior touch = 'direct'
    QuerySpec("q_attribution", (s, d) => Analytics.lastTouchAttribution(s, d), Some(
      """WITH touched AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        |SELECT COALESCE(touch, 'direct') AS channel, COUNT(*) AS conversions,
        |  ROUND(SUM(value), 2) AS attributed_value
        |FROM touched WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin)),
    QuerySpec("q_bpe_tokens", TextAnalysis.bpePieceStats(_, _), Some(
      """SELECT doc_id,
        |  CAST(LEN(p) AS INTEGER) AS n_pieces,
        |  CAST(LEN(list_distinct(p)) AS INTEGER) AS n_distinct_pieces
        |FROM (SELECT doc_id,
        |        regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+') AS p
        |      FROM documents)""".stripMargin)),
    // bigram MLE: pairs by array self-zip, counts exact, probability one
    // mirrored double ratio; the >= 3 cut is on exact integers
    QuerySpec("q_bigram_lm", (s, d) => TextAnalysis.bigramLm(s, d), Some(
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |idx AS (SELECT doc_id, t, unnest(range(1, LEN(t))) AS i FROM toks),
         |pairs AS (SELECT t[CAST(i AS INTEGER)] AS w1, t[CAST(i AS INTEGER) + 1] AS w2 FROM idx),
         |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY 1, 2),
         |c1 AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY 1)
         |SELECT c12.w1, c12.w2, c12.c12, c1.c1,
         |  round(CAST(c12.c12 AS DOUBLE) / c1.c1, 6) AS p
         |FROM c12 JOIN c1 ON c12.w1 = c1.w1 WHERE c12.c12 >= 3""".stripMargin)),
    QuerySpec("q_split_assign", TextAnalysis.deterministicSplit(_, _), Some(
      """SELECT doc_id,
        |  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS INTEGER) AS bucket,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 9800 THEN 'train'
        |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 9900 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin), scale = true),
    // the user-level draw inherited by every event — no user straddles
    // splits (the md5 arithmetic is the shared sampling contract)
    QuerySpec("q_group_split", TextAnalysis.groupSplit(_, _), Some(
      """SELECT e.event_id, e.user_id,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 9800 THEN 'train'
        |       WHEN CAST(('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 9900 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM events e""".stripMargin)),
    QuerySpec("q_stopword_ratio", TextAnalysis.stopwordRatio(_, _), Some(
      s"""SELECT doc_id, CAST(LEN(toks) AS INTEGER) AS n_tokens,
         |  CAST(LEN(list_filter(toks, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'to' OR x = 'in' OR x = 'is')) AS INTEGER) AS n_stopwords,
         |  CASE WHEN LEN(toks) > 0
         |    THEN CAST(LEN(list_filter(toks, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'to' OR x = 'in' OR x = 'is')) AS DOUBLE) / LEN(toks)
         |    ELSE 0.0 END AS stopword_ratio
         |FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents)""".stripMargin)),
    QuerySpec("q_repetition", TextAnalysis.repetitionStats(_, _), Some(
      s"""WITH docs AS (SELECT doc_id, $toksSql AS t FROM documents),
         |big AS (
         |  SELECT doc_id, t[CAST(i AS INTEGER)] || ' ' || t[CAST(i AS INTEGER) + 1] AS gram
         |  FROM (SELECT doc_id, t, unnest(range(1, LEN(t))) AS i FROM docs WHERE LEN(t) >= 2)),
         |cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM big GROUP BY doc_id, gram),
         |top AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS total FROM cnt GROUP BY doc_id)
         |SELECT d.doc_id, CAST(LEN(t) AS INTEGER) AS n_tokens,
         |  CASE WHEN LEN(t) > 0
         |    THEN round(1.0 - CAST(LEN(list_distinct(t)) AS DOUBLE) / LEN(t), 6)
         |    ELSE NULL END AS dup_token_ratio,
         |  round(CAST(mx AS DOUBLE) / total, 6) AS top_bigram_frac
         |FROM docs d LEFT JOIN top ON d.doc_id = top.doc_id""".stripMargin)),
    QuerySpec("q_token_chunks", (s, d) => TextAnalysis.tokenChunks(s, d), Some(tokenChunksSql)),
    // The custom chunk_slices Generator must be row-identical to the
    // built-in composition — same oracle, word for word.
    QuerySpec("q_token_chunks_gen", (s, d) => TextAnalysis.tokenChunksGen(s, d),
      Some(tokenChunksSql)),
    // The oracle computes the same packing as ONE global running sum —
    // the engine's two-phase sharded prefix sum must be indistinguishable.
    QuerySpec("q_pack_offsets", (s, d) => TextAnalysis.packedOffsets(s, d), Some(
      s"""WITH d AS (SELECT doc_id, CAST(LEN($toksSql) AS INTEGER) AS n_tokens FROM documents),
         |o AS (SELECT doc_id, n_tokens,
         |        CAST(COALESCE(SUM(n_tokens) OVER (
         |          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |          AS global_offset
         |      FROM d)
         |SELECT doc_id, n_tokens, global_offset,
         |  CAST(global_offset // 512 AS BIGINT) AS pack_id
         |FROM o""".stripMargin)),
    QuerySpec("q_pii_redact", TextAnalysis.piiRedact(_, _), Some {
      val aug = "text || ' contact u' || CAST(doc_id AS VARCHAR)" +
        " || '@mail-' || CAST(doc_id % 7 AS VARCHAR)" +
        " || '.example.com or +1-555-' || lpad(CAST((doc_id * 37) % 10000 AS VARCHAR), 4, '0')" +
        " || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 3) % 256 AS VARCHAR)"
      val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
      val phoneRe = """\+\d{1,2}-\d{3}-\d{4}"""
      val ipRe = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
      s"""WITH a AS (SELECT doc_id, $aug AS aug FROM documents)
         |SELECT doc_id,
         |  CAST(LEN(regexp_extract_all(aug, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(LEN(regexp_extract_all(aug, '$phoneRe')) AS BIGINT) AS n_phones,
         |  CAST(LEN(regexp_extract_all(aug, '$ipRe')) AS BIGINT) AS n_ips,
         |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
         |    '$emailRe', '<EMAIL>', 'g'), '$phoneRe', '<PHONE>', 'g'),
         |    '$ipRe', '<IP>', 'g')) AS redacted_md5
         |FROM a""".stripMargin
    }),
    // k-anonymity ladder: level 1 = fine bucket >= k, level 2 = failing
    // rows re-form classes at the coarse bucket, level 0 = suppress
    QuerySpec("q_k_anonymity", (s, d) => Quality.kAnonymity(s, d), Some(
      """WITH d AS (SELECT doc_id, lang, source, n_chars,
        |    n_chars // 100 * 100 AS b_fine, n_chars // 500 * 500 AS b_coarse
        |  FROM documents),
        |f AS (SELECT *, COUNT(*) OVER (PARTITION BY lang, source, b_fine) AS n_fine FROM d),
        |c AS (SELECT *, COUNT(CASE WHEN n_fine < 5 THEN 1 END)
        |    OVER (PARTITION BY lang, source, b_coarse) AS n_coarse FROM f)
        |SELECT doc_id, lang, source,
        |  CASE WHEN n_fine >= 5 THEN 1 WHEN n_coarse >= 5 THEN 2 ELSE 0 END AS level,
        |  CAST(CASE WHEN n_fine >= 5 THEN n_fine ELSE n_coarse END AS BIGINT) AS set_size
        |FROM c""".stripMargin)),
    QuerySpec("q_url_parse", TextAnalysis.urlParse(_, _), Some(
      """WITH u AS (SELECT doc_id,
        |  'https://sub' || CAST(doc_id % 10 AS VARCHAR) || '.example.com:8080/p/'
        |    || CAST(doc_id AS VARCHAR) || '/item?q=' || lang
        |    || '&page=' || CAST(doc_id % 5 AS VARCHAR) || '#frag' AS url
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_extract(url, '^([a-z]+)://', 1) AS protocol,
        |  regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host,
        |  regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
        |  regexp_extract(url, '[?&]q=([^&#]*)', 1) AS q_param,
        |  regexp_extract(url, '[?&]page=([^&#]*)', 1) AS page_param,
        |  regexp_extract(url, '#(.*)$', 1) AS fragment
        |FROM u""".stripMargin)),
    // Decontamination: 8-token shingle overlap between the deterministic
    // doc_id%17 "benchmark" slice and the rest of the corpus; per-doc
    // DISTINCT digests on both sides, total verdict per training doc.
    // scale reason, shared with q_heavy_hitters, q_zorder:
    // corpus-hygiene family (late r7 adds): decontaminate is a per-doc
    // distinct + broadcast digest probe (Caesar-rotated replicas keep the
    // per-replica contamination rate constant); heavy hitters is the O(k)
    // sketch scan + bounded re-count (rotation disjoins replica vocabs, so
    // the n/(k+1) bar rises with n — the timed work is the two scans);
    // zorder is the 1-row bounds pass + a pure codegen'd projection
    QuerySpec("q_decontaminate", (s, d) => TextAnalysis.decontaminate(s, d), Some(
      s"""WITH docs AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    md5(array_to_string(t[CAST(i AS INTEGER) : CAST(i AS INTEGER) + 7], ' ')) AS g
         |  FROM (SELECT doc_id, t, unnest(range(1, LEN(t) - 6)) AS i
         |        FROM docs WHERE LEN(t) >= 8)),
         |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 17 = 0),
         |hits AS (SELECT sh.doc_id, COUNT(*) AS n FROM sh JOIN bench USING (g)
         |         WHERE sh.doc_id % 17 <> 0 GROUP BY sh.doc_id)
         |SELECT d.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_contaminated,
         |       COALESCE(h.n, 0) > 0 AS contaminated
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
         |LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin), scale = true),
    // Bloom decontamination: the filter bits are a DETERMINISTIC function
    // of the benchmark digest set under the portable construction —
    // KM positions (h1 + j*h2) % m over the md5 60-bit halves, m = 23*n
    // integer arithmetic — so DuckDB rebuilds the identical bitmap and
    // the verdict hash-matches INCLUDING false positives. Membership =
    // no position missing (an EXCEPT against the missing-position keys,
    // robust to j-collisions within one key).
    QuerySpec("q_decontaminate_bloom", (s, d) => TextAnalysis.decontaminateBloom(s, d), Some(
      s"""WITH docs AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    md5(array_to_string(t[CAST(i AS INTEGER) : CAST(i AS INTEGER) + 7], ' ')) AS g
         |  FROM (SELECT doc_id, t, unnest(range(1, LEN(t) - 6)) AS i
         |        FROM docs WHERE LEN(t) >= 8)),
         |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 17 = 0),
         |m AS (SELECT GREATEST(64, 23 * GREATEST(COUNT(*), 1)) AS m FROM bench),
         |j AS (SELECT unnest(range(1, 8)) AS j),
         |bits AS (SELECT DISTINCT
         |    (CAST('0x' || substr(g, 1, 15) AS BIGINT)
         |     + j.j * CAST('0x' || substr(g, 16, 15) AS BIGINT)) % m.m AS p
         |  FROM bench CROSS JOIN j CROSS JOIN m),
         |tr AS (SELECT doc_id, g FROM sh WHERE doc_id % 17 <> 0),
         |trpos AS (SELECT doc_id, g,
         |    (CAST('0x' || substr(g, 1, 15) AS BIGINT)
         |     + j.j * CAST('0x' || substr(g, 16, 15) AS BIGINT)) % m.m AS p
         |  FROM tr CROSS JOIN j CROSS JOIN m),
         |miss AS (SELECT DISTINCT doc_id, g FROM trpos
         |  WHERE NOT EXISTS (SELECT 1 FROM bits WHERE bits.p = trpos.p)),
         |memb AS (SELECT doc_id, g FROM tr EXCEPT SELECT doc_id, g FROM miss),
         |hits AS (SELECT doc_id, COUNT(*) AS n FROM memb GROUP BY doc_id)
         |SELECT d.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_contaminated,
         |       COALESCE(h.n, 0) > 0 AS contaminated
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
         |LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin), scale = true),
    QuerySpec("q_substring_dupes", (s, d) => TextAnalysis.substringDupes(s, d), Some(
      s"""WITH docs AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, CAST(unnest(range(0, LEN(t) - 20 + 1)) AS INTEGER) AS pos, t
         |       FROM docs WHERE LEN(t) >= 20),
         |hx AS (SELECT doc_id, pos, md5(array_to_string(t[pos + 1 : pos + 20], ' ')) AS h FROM sh),
         |dup AS (SELECT h FROM hx GROUP BY h HAVING COUNT(*) > 1),
         |hits AS (SELECT doc_id, pos FROM hx WHERE h IN (SELECT h FROM dup)),
         |runs AS (SELECT doc_id, pos,
         |           CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 20
         |             THEN 0 ELSE 1 END AS new_run
         |         FROM hits),
         |rid AS (SELECT doc_id, pos,
         |          SUM(new_run) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_id
         |        FROM runs)
         |SELECT doc_id, MIN(pos) AS span_start, CAST(MAX(pos) + 20 AS INTEGER) AS span_end,
         |  COUNT(*) AS n_windows
         |FROM rid GROUP BY doc_id, run_id""".stripMargin), scale = true),
    // bnlj: the 1-row (N, avgdl) stats
    QuerySpec("q_bm25", (s, d) => TextAnalysis.bm25(s, d), Some(
      s"""WITH d AS (SELECT doc_id, t, CAST(LEN(t) AS DOUBLE) AS dl
         |           FROM (SELECT doc_id, $toksSql AS t FROM documents)
         |           WHERE LEN(t) > 0),
         |stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM d),
         |tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf
         |       FROM (SELECT doc_id, dl, unnest(t) AS token FROM d)
         |       WHERE token IN ('hash', 'join', 'scan') GROUP BY 1, 2, 3),
         |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1)
         |SELECT doc_id,
         |  round(SUM(ln((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) + 1)
         |    * (tf * CAST(2.2 AS DOUBLE))
         |    / (tf + CAST(1.2 AS DOUBLE)
         |         * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))), 4) AS bm25
         |FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN stats
         |GROUP BY doc_id""".stripMargin), scale = true, bnlj = true),
    // bnlj: the two 1-row corpus totals
    QuerySpec("q_cooccurrence", (s, d) => TextAnalysis.cooccurrencePmi(s, d), Some(
      s"""WITH docs AS (SELECT doc_id, $toksSql AS t FROM documents),
         |tokpos AS (SELECT doc_id, unnest(t) AS tok,
         |             CAST(unnest(range(1, LEN(t) + 1)) AS INTEGER) AS pos
         |           FROM docs),
         |pr AS (SELECT least(x.tok, y.tok) AS a, greatest(x.tok, y.tok) AS b
         |       FROM tokpos x JOIN tokpos y
         |         ON x.doc_id = y.doc_id AND y.pos > x.pos AND y.pos <= x.pos + 3),
         |pc AS (SELECT a, b, COUNT(*) AS n_ab FROM pr GROUP BY 1, 2),
         |uni AS (SELECT tok, COUNT(*) AS c FROM tokpos GROUP BY 1),
         |tot AS (SELECT (SELECT COUNT(*) FROM pr) AS pp,
         |               (SELECT COUNT(*) FROM tokpos) AS tt)
         |SELECT a, b, n_ab,
         |  round(ln((n_ab / pp) / ((ua.c / tt) * (ub.c / tt))), 4) AS pmi
         |FROM pc JOIN uni ua ON pc.a = ua.tok
         |        JOIN uni ub ON pc.b = ub.tok
         |        CROSS JOIN tot
         |WHERE n_ab >= 10""".stripMargin), scale = true, bnlj = true),
    QuerySpec("q_ngram_novelty", (s, d) => TextAnalysis.ngramNovelty(s, d), Some(
      s"""WITH docs AS (SELECT doc_id, $toksSql AS t FROM documents),
         |d AS (SELECT doc_id, t FROM docs WHERE LEN(t) >= 2),
         |bi AS (SELECT doc_id,
         |         unnest(t[1:LEN(t) - 1]) || ' ' || unnest(t[2:LEN(t)]) AS bg
         |       FROM d),
         |c AS (SELECT bg, COUNT(*) AS c FROM bi GROUP BY 1)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  round(AVG(ln(c.c)), 4) AS mean_log_freq
         |FROM bi JOIN c ON bi.bg = c.bg
         |GROUP BY doc_id""".stripMargin), scale = true),
    // Heavy hitters: the MG candidate pass is a superset guarantee; the
    // exact re-count + threshold filter makes the final set/counts exact,
    // so the oracle is a plain grouped count vs n/(k+1), k=256.
    QuerySpec("q_heavy_hitters", (s, d) => graft.functions.MisraGries.heavyHitters(s, d), Some(
      s"""WITH toks AS (SELECT unnest($toksSql) AS token FROM documents),
         |n AS (SELECT COUNT(*) AS total FROM toks),
         |c AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token)
         |SELECT token, cnt FROM c CROSS JOIN n WHERE cnt > total / 257.0""".stripMargin), scale = true),
    // the engine sketch tracks far more items than this vocabulary, so
    // its counts are exact and the top-9 SET is pinned (k sits clear of
    // a count tie at verify scale)
    QuerySpec("q_approx_topk", (s, d) => TextAnalysis.approxTopTokens(s, d), Some(
      s"""SELECT token, COUNT(*) AS est_count FROM (
         |  SELECT unnest($toksSql) AS token FROM documents)
         |GROUP BY token ORDER BY est_count DESC, token ASC LIMIT 9""".stripMargin)),
    // CCNet-style LM scoring: Laplace-smoothed bigram log-probs, per-doc
    // mean via the house round-9 decimal-sum contract
    // bnlj: 1-row vocabulary count into the smoothing denominator
    QuerySpec("q_lm_score", TextAnalysis.lmScore(_, _), Some(
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |idx AS (SELECT doc_id, t, unnest(range(1, LEN(t))) AS i FROM toks),
         |pairs AS (SELECT doc_id, t[CAST(i AS INTEGER)] AS w1,
         |    t[CAST(i AS INTEGER) + 1] AS w2 FROM idx),
         |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY 1, 2),
         |c1 AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY 1),
         |v AS (SELECT COUNT(*) AS v FROM c1),
         |model AS (SELECT w1, w2, ln(CAST(c12 + 1 AS DOUBLE) / (c1 + v)) AS lp
         |          FROM c12 JOIN c1 USING (w1) CROSS JOIN v)
         |SELECT p.doc_id, COUNT(*) AS n_pairs,
         |  round(CAST(SUM(CAST(round(lp, 9) AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
         |FROM pairs p JOIN model m ON p.w1 = m.w1 AND p.w2 = m.w2
         |GROUP BY 1""".stripMargin), scale = true, bnlj = true),
    // DSIR importance resampling: Laplace-smoothed hashed-bucket
    // distributions, per-occurrence ln ratio summed on the decimal
    // contract, threshold keep — everything recomputable in SQL
    // scale reason, shared with q_sql_update, q_sql_merge, q_zonemap_scan:
    // round-10 table-format verbs: the COW DML pair is the one whose
    // cost is the REWRITE itself (one scan + one ordered write of
    // factor× documents — the table build on first touch is part of the
    // same data-dominated path); zonemap_scan couples a clustered COW
    // update to a range scan whose file pruning should hold the READ
    // side near-constant; dsir is two bucket-count passes + a broadcast
    // scoring join riding the token stream like lm_score
    // bnlj: 1-row (nt, nr) totals into the smoothed bucket ratios
    QuerySpec("q_dsir_resample", TextAnalysis.dsirResample(_, _), Some(
      s"""WITH tok AS (
         |  SELECT doc_id, source IN ('src0', 'src1') AS is_target,
         |    CAST(CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % 64 AS INTEGER) AS bucket
         |  FROM (SELECT doc_id, source, unnest($toksSql) AS token FROM documents)),
         |counts AS (SELECT bucket,
         |    SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
         |    SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS cr
         |  FROM tok GROUP BY 1),
         |totals AS (SELECT SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS nt,
         |    SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS nr FROM tok),
         |w AS (SELECT bucket,
         |    ln((CAST(ct + 1 AS DOUBLE) / (nt + 64)) /
         |       (CAST(cr + 1 AS DOUBLE) / (nr + 64))) AS lw
         |  FROM counts CROSS JOIN totals)
         |SELECT t.doc_id, COUNT(*) AS n_tokens,
         |  round(CAST(SUM(CAST(round(lw, 9) AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 6) AS avg_logweight,
         |  round(CAST(SUM(CAST(round(lw, 9) AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 6) > 0 AS keep
         |FROM tok t JOIN w USING (bucket)
         |WHERE NOT t.is_target
         |GROUP BY 1""".stripMargin), scale = true, bnlj = true),
    // --- product analytics ------------------------------------------------
    // scale reason, shared with q_sessionize:
    // window-function + user-keyed-join families (r7 analytics adds):
    // sort/state per user partition, joins exchanging |users| rows
    QuerySpec("q_funnel", Analytics.funnelConversion(_, _), Some(
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT user_id, min(ts) AS t_view FROM events
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
        |SELECT u.user_id, v.t_view, c.t_click, p.t_purchase
        |FROM u LEFT JOIN v ON u.user_id = v.user_id
        |       LEFT JOIN c ON u.user_id = c.user_id
        |       LEFT JOIN p ON u.user_id = p.user_id""".stripMargin), scale = true),
    // the 24h-bounded funnel: same stage ladder, each stage constrained
    // to the conversion window after the previous stage
    // scale reason, shared with q_holt_linear, q_holt_backtest, q_auc:
    // the closing session-4 verbs: Holt (and its backtest) fold over
    // the CALENDAR-bounded per-type hourly axis — replicas add users,
    // not hours, so only the first aggregate rides the factor; AUC is
    // the |distinct scores| histogram through the sliced prefix sum;
    // the windowed funnel is the q_funnel join ladder plus one pushed
    // predicate per stage
    QuerySpec("q_funnel_window", (s, d) => Analytics.funnelWindowed(s, d), Some(
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT user_id, min(ts) AS t_view FROM events
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t_view
        |        AND e.ts <= v.t_view + INTERVAL 24 HOUR GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |        AND e.ts <= c.t_click + INTERVAL 24 HOUR GROUP BY e.user_id)
        |SELECT u.user_id, v.t_view, c.t_click, p.t_purchase
        |FROM u LEFT JOIN v ON u.user_id = v.user_id
        |       LEFT JOIN c ON u.user_id = c.user_id
        |       LEFT JOIN p ON u.user_id = p.user_id""".stripMargin), scale = true),
    QuerySpec("q_cohort_retention", Analytics.cohortRetention(_, _), Some(
      """WITH ev AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        |            FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id)
        |SELECT f.cohort_week,
        |  CAST(date_diff('day', f.cohort_week, ev.week) // 7 AS INTEGER) AS week_offset,
        |  count(*) AS n_users
        |FROM ev JOIN f ON ev.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin)),
    QuerySpec("q_sessionize", (s, d) => Analytics.sessionize(s, d), Some(
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |        CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |      FROM o)
        |SELECT user_id, session_idx, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_idx""".stripMargin), scale = true),
    // the native session operator must equal the islands construction:
    // new session iff the gap to the previous event is ≥ 30 min, and
    // end = last event + gap
    QuerySpec("q_session_window", (s, d) => Analytics.sessionWindowCounts(s, d), Some(
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS session_idx
        |      FROM o)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_idx""".stripMargin), scale = true),
    QuerySpec("q_scd2", (s, d) => Analytics.scd2UserState(s, d), Some(
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT * FROM o WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type AS state, ts AS valid_from,
        |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        |FROM c""".stripMargin), scale = true),
    QuerySpec("q_gap_fill", (s, d) => Analytics.gapFillHourly(s, d), Some(
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hour,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS hour_value
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY 1),
        |spine AS (SELECT user_id,
        |            unnest(range(h0, h1 + INTERVAL 1 HOUR, INTERVAL 1 HOUR)) AS hour
        |          FROM spans)
        |SELECT s.user_id, s.hour,
        |  last_value(h.hour_value IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.hour ROWS UNBOUNDED PRECEDING) AS filled_value,
        |  h.hour IS NOT NULL AS is_observed
        |FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hour = h.hour""".stripMargin), scale = true),
    QuerySpec("q_markov", (s, d) => Analytics.markovTransitions(s, d), Some(
      """WITH s AS (SELECT event_type AS cur_type,
        |             LAG(event_type) OVER (
        |               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |           FROM events),
        |c AS (SELECT prev_type, cur_type, COUNT(*) AS n
        |      FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, cur_type, n,
        |  round(n / SUM(n) OVER (PARTITION BY prev_type), 4) AS p
        |FROM c""".stripMargin), scale = true),
    // scale: the typed-path sequential fold: per-group buffer is one user's
    // history; replicas add USERS, so groups multiply, sizes don't
    QuerySpec("q_ewma", (s, d) => Analytics.ewmaUserValues(s, d), Some(
      """WITH RECURSIVE o AS (
        |  SELECT user_id, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT user_id, event_id, value, rn, value AS ewma FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.user_id, o.event_id, o.value, o.rn,
        |    CAST(0.25 AS DOUBLE) * o.value + CAST(0.75 AS DOUBLE) * r.ewma
        |  FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1)
        |SELECT user_id, event_id, value, ewma FROM r""".stripMargin), scale = true),
    // scale: PIT join: both sides grow with the factor, the join stays
    // user-keyed (q_profile reads orders, which the replica set does
    // not carry — its one-Expand-pass shape needs no sweep)
    QuerySpec("q_pit_join", (s, d) => Analytics.pitEnrichedPurchases(s, d), Some(
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT * FROM o WHERE prev IS NULL OR prev <> event_type),
        |dim AS (SELECT user_id, event_type AS state, ts AS valid_from,
        |          LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |        FROM c)
        |SELECT e.event_id, e.user_id, e.value, d.state AS state_at,
        |  d.valid_from AS state_since
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |  AND d.valid_from <= e.ts AND (d.valid_to IS NULL OR e.ts < d.valid_to)
        |WHERE e.event_type = 'purchase'""".stripMargin), scale = true),
    // n_null sums are CAST to BIGINT: DuckDB SUM(CASE...) yields HUGEINT,
    // which pandas surfaces as float64 and the driver's dtype-strict hash
    // rejects against Spark's int64 (VERDICT r7 #2).
    QuerySpec("q_profile", (s, d) => Relational.columnProfile(s, d), Some(
      """SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  COUNT(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
        |  CAST(MAX(o_orderkey) AS DOUBLE) AS max_num FROM orders
        |UNION ALL
        |SELECT 'o_custkey', COUNT(*),
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT o_custkey),
        |  CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE) FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', COUNT(*),
        |  CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT o_orderstatus),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', COUNT(*),
        |  CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT o_totalprice),
        |  CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', COUNT(*),
        |  CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT o_orderpriority),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM orders""".stripMargin)),
    // the maintenance path must land on the FULL recompute exactly —
    // that equality is the whole point of the query
    QuerySpec("q_incremental_agg", (s, d) => Relational.incrementalRevenueByNation(s, d),
      Some(revenueByNationSql)),
    // delta-join identity (A₀∪ΔA)⋈(B₀∪ΔB) = the four slice joins: the
    // maintained view must equal the plain full join recompute
    QuerySpec("q_delta_join_view", (s, d) => Relational.deltaJoinView(s, d), Some(
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)),
    // U-shaped multi-touch attribution in exact money arithmetic:
    // integer floor shares, remainder cents to the first touch — every
    // journey's credits sum to exactly its cents on both engines.
    // FLOOR semantics mirrored explicitly: the engine uses pmod-based
    // floor division/remainder, and DuckDB's `//` and `%` TRUNCATE, so
    // every division here subtracts a `((x % d) + d) % d` pmod first —
    // the quotient operand becomes exactly divisible, where truncation
    // and floor agree for either sign of cents (refund rows included)
    // scale reason, shared with q_kaplan_meier, q_cuped, q_clustering_coeff,
    // q_kcore:
    // round-10 analytics verbs over the replicated tables (rfm reads
    // orders only; gini/delta_join_view read orders+customer — none of
    // which the replica set carries — their shapes are the proven broadcast-join + two-phase
    // rank cores): position attribution is two user-keyed window stacks
    // + a (user, journey) join — replicas add users, so partitions
    // multiply and per-user state stays bounded; Kaplan–Meier collapses
    // the log to one row per user then a CALENDAR-bounded time axis, so
    // only the first aggregate rides the factor; CUPED is two user-keyed
    // aggregates into 2-row sufficient stats; the graph pair rides the
    // densifying co-order front like q_triangles (factor× orders over
    // the same part catalog), k-core with a per-round localCheckpoint
    QuerySpec("q_attribution_position", (s, d) => Analytics.positionAttribution(s, d), Some(
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS journey
        |  FROM events),
        |p AS (
        |  SELECT user_id, journey, CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM e WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id, journey, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, journey ORDER BY ts, event_id) AS pos,
        |    COUNT(*) OVER (PARTITION BY user_id, journey) AS k
        |  FROM e WHERE event_type <> 'purchase'),
        |j AS (
        |  SELECT p.cents, t.event_type, t.pos, t.k,
        |    (p.cents * 2 - ((p.cents * 2 % 5) + 5) % 5) // 5 AS f40,
        |    (p.cents - ((p.cents % 2) + 2) % 2) // 2 AS half
        |  FROM p LEFT JOIN t ON p.user_id = t.user_id AND p.journey = t.journey)
        |SELECT COALESCE(event_type, 'direct') AS channel,
        |  CAST(SUM(CASE
        |    WHEN k IS NULL OR k = 1 THEN cents
        |    WHEN k = 2 AND pos = 1 THEN cents - half
        |    WHEN k = 2 THEN half
        |    WHEN pos = 1 THEN f40
        |      + (((cents - f40 * 2) % (k - 2)) + (k - 2)) % (k - 2)
        |    WHEN pos = k THEN f40
        |    ELSE ((cents - f40 * 2)
        |      - ((((cents - f40 * 2) % (k - 2)) + (k - 2)) % (k - 2))) // (k - 2)
        |  END) AS BIGINT) AS credit_cents,
        |  COUNT(*) AS n_credits
        |FROM j GROUP BY 1""".stripMargin), scale = true),
    // local clustering coefficient: the q_triangles graph (co-order
    // pairs, support ≥ 2) + degrees; one double division of exact ints
    QuerySpec("q_clustering_coeff", (s, d) => Analytics.clusteringCoefficient(s, d), Some(
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM li l1 JOIN li l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (SELECT v, COUNT(*) AS d FROM (
        |  SELECT a AS v FROM pairs UNION ALL SELECT b FROM pairs) GROUP BY v),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM pairs e1 JOIN pairs e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b),
        |tcount AS (SELECT part, COUNT(*) AS n_triangles FROM (
        |  SELECT x AS part FROM tri UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri) GROUP BY part)
        |SELECT deg.v AS part, deg.d AS degree,
        |  COALESCE(tcount.n_triangles, 0) AS n_triangles,
        |  ROUND(2.0 * COALESCE(tcount.n_triangles, 0)
        |    / CAST(deg.d * (deg.d - 1) AS DOUBLE), 6) AS clustering_coeff
        |FROM deg LEFT JOIN tcount ON tcount.part = deg.v
        |WHERE deg.d >= 2""".stripMargin), scale = true),
    // RFM quintile grid: explicit floor((rn−1)·5/n)+1 quintiles from a
    // (metric, custkey)-ordered row number — integer arithmetic end to
    // end, so ntile's front-loading never enters the contract
    // bnlj: 1-row broadcast |customers| count into the quintile formula
    QuerySpec("q_rfm", (s, d) => Analytics.rfmSegments(s, d), Some(
      """WITH cust AS (
        |  SELECT o_custkey,
        |    CAST(DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE), DATE '1998-12-31') AS BIGINT) AS recency,
        |    COUNT(*) AS frequency,
        |    CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(12,2)))) AS BIGINT) AS monetary
        |  FROM orders GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_cust FROM cust),
        |r AS (
        |  SELECT monetary,
        |    ROW_NUMBER() OVER (ORDER BY recency, o_custkey) AS rn_r,
        |    ROW_NUMBER() OVER (ORDER BY frequency, o_custkey) AS rn_f,
        |    ROW_NUMBER() OVER (ORDER BY monetary, o_custkey) AS rn_m
        |  FROM cust)
        |SELECT CAST((rn_r - 1) * 5 // n_cust + 1 AS INT) AS r_q,
        |  CAST((rn_f - 1) * 5 // n_cust + 1 AS INT) AS f_q,
        |  CAST((rn_m - 1) * 5 // n_cust + 1 AS INT) AS m_q,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(monetary) AS BIGINT) AS total_monetary
        |FROM r CROSS JOIN n
        |GROUP BY 1, 2, 3""".stripMargin), bnlj = true),
    // Gini of per-customer whole-dollar spend by nation: ranks by
    // (spend, custkey); Σ i·xᵢ is tie-block exact, one division, round 6
    QuerySpec("q_gini", (s, d) => Stats.giniSpend(s, d), Some(
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(12,2)))) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT n_name, x,
        |    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY x, o_custkey) AS i
        |  FROM spend JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey)
        |SELECT n_name, COUNT(*) AS n_customers, CAST(SUM(x) AS BIGINT) AS total_dollars,
        |  ROUND(CASE WHEN SUM(x) > 0 THEN
        |    (2.0 * CAST(SUM(i * x) AS DOUBLE)
        |      - (COUNT(*) + 1) * CAST(SUM(x) AS DOUBLE))
        |    / (COUNT(*) * CAST(SUM(x) AS DOUBLE)) END, 6) AS gini
        |FROM r GROUP BY 1""".stripMargin)),
    // Kaplan–Meier: the recursive CTE replays the ascending-time
    // survival fold multiply-for-multiply — survival doubles must be
    // BIT-identical (the q_ewma contract)
    QuerySpec("q_kaplan_meier", (s, d) => Stats.kaplanMeier(s, d), Some(
      """WITH RECURSIVE per_user AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS t0,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp,
        |    MAX(epoch_us(ts)) AS tlast
        |  FROM events GROUP BY 1),
        |dur AS (
        |  SELECT CASE WHEN tp IS NOT NULL THEN (tp - t0) // 3600000000
        |              ELSE (tlast - t0) // 3600000000 END AS t,
        |    (tp IS NOT NULL) AS ev
        |  FROM per_user),
        |bytime AS (
        |  SELECT t, SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS d, COUNT(*) AS c
        |  FROM dur GROUP BY t),
        |o AS (
        |  SELECT t, d, ROW_NUMBER() OVER (ORDER BY t) AS rn,
        |    SUM(c) OVER () - COALESCE(SUM(c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM bytime),
        |r AS (
        |  SELECT t, d, rn, n_risk,
        |    CASE WHEN d > 0 THEN 1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |         ELSE CAST(1.0 AS DOUBLE) END AS surv
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.t, o.d, o.rn, o.n_risk,
        |    r.surv * (CASE WHEN o.d > 0
        |      THEN 1.0 - CAST(o.d AS DOUBLE) / CAST(o.n_risk AS DOUBLE) ELSE 1.0 END)
        |  FROM r JOIN o ON o.rn = r.rn + 1)
        |SELECT t AS t_hours, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS d_events, surv AS survival
        |FROM r WHERE d > 0""".stripMargin), scale = true),
    // CUPED: every statistic from per-arm exact-cents sufficient sums;
    // the double arithmetic mirrors the engine expression-for-expression.
    // Product sums widen to HUGEINT to mirror the engine's
    // DECIMAL(38,0) widening — int64 per-user cents products would
    // otherwise overflow the oracle while the engine succeeds
    // bnlj: 1-row broadcast pooled sufficient stats against the 2-row arms
    QuerySpec("q_cuped", (s, d) => Stats.cupedAdjustment(s, d), Some(
      """WITH pu AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN event_type <> 'purchase'
        |      THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS x,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS y
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |arm AS (
        |  SELECT (user_id % 2 = 0) AS arm_a, COUNT(*) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM pu GROUP BY 1),
        |pool AS (
        |  SELECT COUNT(*) AS pn, SUM(x) AS psx, SUM(y) AS psy,
        |    SUM(CAST(x AS HUGEINT) * y) AS psxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS psxx FROM pu),
        |w AS (
        |  SELECT arm_a, n,
        |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_y,
        |    (CAST(pn AS DOUBLE) * CAST(psxy AS DOUBLE)
        |      - CAST(psx AS DOUBLE) * CAST(psy AS DOUBLE))
        |    / (CAST(pn AS DOUBLE) * CAST(psxx AS DOUBLE)
        |      - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE)) AS theta,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(psx AS DOUBLE) / CAST(pn AS DOUBLE) AS xgap,
        |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS var_y,
        |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS cov_xy,
        |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS var_x,
        |    (CAST(pn AS DOUBLE) * CAST(psxx AS DOUBLE)
        |      - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE)) > 0 AND n > 1 AS ok
        |  FROM arm CROSS JOIN pool)
        |SELECT arm_a, n,
        |  ROUND(mean_y / 100, 6) AS mean_y,
        |  ROUND(CASE WHEN ok THEN (mean_y - theta * xgap) / 100 END, 6) AS mean_y_cuped,
        |  ROUND(CASE WHEN ok THEN var_y END, 6) AS var_y,
        |  ROUND(CASE WHEN ok
        |    THEN var_y - 2.0 * theta * cov_xy + theta * theta * var_x END, 6)
        |    AS var_y_cuped,
        |  ROUND(CASE WHEN ok AND var_y > 0 THEN 1.0
        |    - (var_y - 2.0 * theta * cov_xy + theta * theta * var_x) / var_y END, 6)
        |    AS var_reduction
        |FROM w""".stripMargin), scale = true, bnlj = true),
    // k-core: the oracle unrolls the SAME bounded peel (KcoreRounds
    // iterations); the spec pins fixpoint-inside-budget at test scale
    QuerySpec("q_kcore", (s, d) => Analytics.kcore(s, d), Some(kcoreSql()), scale = true),
    // Holt linear trend: recursive CTE replays the two-state fold with
    // the engine's exact coefficient doubles (see holtSql)
    QuerySpec("q_holt_linear", (s, d) => Stats.holtLinear(s, d), Some(holtSql()), scale = true),
    // AUC by rank-sum: midrank block algebra p·(2b+c+1) = 2·ΣR₁, three
    // exact integers into one mirrored division
    // bnlj: 1-row broadcast score bounds into the rank histogram slicing
    QuerySpec("q_auc", (s, d) => Stats.aucValuePurchase(s, d), Some(
      """WITH v AS (
        |  SELECT value AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT s, SUM(pos) AS p, COUNT(*) AS c FROM v GROUP BY s),
        |w AS (SELECT p, c,
        |  COALESCE(SUM(c) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
        |  FROM h),
        |t AS (SELECT SUM(p * (2 * b + c + 1)) AS r2, SUM(p) AS n1, SUM(c) AS n FROM w)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n - n1 AS BIGINT) AS n0,
        |  ROUND(CASE WHEN n1 > 0 AND n - n1 > 0 THEN
        |    (CAST(r2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1))
        |    / (2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)) END, 6) AS auc
        |FROM t""".stripMargin), scale = true, bnlj = true),
    // log-rank: suffix risk sets over the bounded hour axis; E/V terms
    // summed under round-9 → DECIMAL → round-6; χ² one final expression
    // scale reason, shared with q_mann_kendall, q_theil_sen, q_vocab_coverage,
    // q_sql_cdc:
    // round-11 verbs: log-rank/MK/Theil–Sen fold the log to per-user or
    // per-(type,hour) rows first — the hour axis is calendar-bounded,
    // so pair joins and suffix windows are FIXED-size at any factor and
    // only the first aggregate rides the data; vocab coverage is
    // explode → vocab-sized shuffle → broadcast join (one scan term);
    // q_sql_cdc reads only the commit's churn (files diff), so the
    // factor shows in the one-time fixture build + merge, not the feed
    QuerySpec("q_logrank", (s, d) => Stats.logRank(s, d), Some(
      """WITH pu AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS t0,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp,
        |    MAX(epoch_us(ts)) AS tlast
        |  FROM events GROUP BY 1),
        |dur AS (
        |  SELECT CASE WHEN tp IS NOT NULL THEN (tp - t0) // 3600000000
        |              ELSE (tlast - t0) // 3600000000 END AS t,
        |    (tp IS NOT NULL) AS ev, (user_id % 2 = 0) AS arm_a
        |  FROM pu),
        |bytime AS (
        |  SELECT t,
        |    SUM(CASE WHEN ev AND arm_a THEN 1 ELSE 0 END) AS da,
        |    SUM(CASE WHEN ev AND NOT arm_a THEN 1 ELSE 0 END) AS db,
        |    SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS cb
        |  FROM dur GROUP BY t),
        |risk AS (
        |  SELECT t, da, db, ca, cb,
        |    SUM(ca) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
        |      AND UNBOUNDED FOLLOWING) AS na,
        |    SUM(cb) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
        |      AND UNBOUNDED FOLLOWING) AS nb
        |  FROM bytime),
        |terms AS (
        |  SELECT da, db, na, nb, da + db AS d, na + nb AS n,
        |    CAST(da + db AS DOUBLE) * CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE) AS e_a,
        |    CASE WHEN na + nb > 1 THEN
        |      CAST(da + db AS DOUBLE) * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |        * CAST(na + nb - da - db AS DOUBLE)
        |        / (CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)
        |           * CAST(na + nb - 1 AS DOUBLE))
        |      ELSE 0.0 END AS v
        |  FROM risk WHERE da + db > 0),
        |agg AS (
        |  SELECT COUNT(*) AS n_times, CAST(SUM(da) AS BIGINT) AS observed_a,
        |    ROUND(CAST(SUM(CAST(ROUND(e_a, 9) AS DECIMAL(38,9))) AS DOUBLE), 6)
        |      AS expected_a,
        |    ROUND(CAST(SUM(CAST(ROUND(v, 9) AS DECIMAL(38,9))) AS DOUBLE), 6)
        |      AS variance
        |  FROM terms)
        |SELECT n_times, observed_a, expected_a, variance,
        |  ROUND(CASE WHEN variance > 0 THEN
        |    (CAST(observed_a AS DOUBLE) - expected_a)
        |      * (CAST(observed_a AS DOUBLE) - expected_a) / variance END, 6) AS chi2
        |FROM agg""".stripMargin), scale = true),
    // Mann–Kendall: exact-integer S and tie-corrected variance over the
    // calendar-bounded per-type hour axis; z one final expression
    QuerySpec("q_mann_kendall", (s, d) => Stats.mannKendall(s, d), Some(
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT a.event_type,
        |    SUM(CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END) AS s
        |  FROM hourly a JOIN hourly b
        |    ON a.event_type = b.event_type AND a.hr < b.hr
        |  GROUP BY 1),
        |ties AS (
        |  SELECT event_type, SUM(tg * (tg - 1) * (2 * tg + 5)) AS tie_term,
        |    SUM(tg) AS m
        |  FROM (SELECT event_type, n, COUNT(*) AS tg FROM hourly GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT s.event_type, CAST(m AS BIGINT) AS n_points, CAST(s AS BIGINT) AS s,
        |  ROUND(CAST(m * (m - 1) * (2 * m + 5) - tie_term AS DOUBLE) / 18, 6) AS var_s,
        |  ROUND(CASE WHEN m * (m - 1) * (2 * m + 5) - tie_term > 0 THEN
        |    (CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
        |          WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) ELSE 0.0 END)
        |    / sqrt(CAST(m * (m - 1) * (2 * m + 5) - tie_term AS DOUBLE) / 18)
        |    ELSE 0.0 END, 6) AS z
        |FROM s JOIN ties ON s.event_type = ties.event_type""".stripMargin), scale = true),
    // Theil–Sen: deterministic LOWER median of pairwise slopes, ties
    // broken by the pair's hour coordinates — both engines pick the
    // identical pair, one double division
    QuerySpec("q_theil_sen", (s, d) => Stats.theilSen(s, d), Some(
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.event_type, a.hr AS hi, b.hr AS hj,
        |    CAST(b.n - a.n AS DOUBLE) / CAST(b.hr - a.hr AS DOUBLE) AS slope
        |  FROM hourly a JOIN hourly b
        |    ON a.event_type = b.event_type AND a.hr < b.hr),
        |ranked AS (
        |  SELECT event_type, slope,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY slope, hi, hj) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS k
        |  FROM pairs)
        |SELECT event_type, k AS n_pairs, ROUND(slope, 6) AS sen_slope
        |FROM ranked WHERE rn = (k + 1) // 2""".stripMargin), scale = true),
    // vocabulary coverage: top-1000 corpus tokens (count desc, token
    // asc), per-source OOV fraction
    QuerySpec("q_vocab_coverage", (s, d) => TextAnalysis.vocabCoverage(s, d), Some(
      """WITH toks AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok, 1 AS in_vocab FROM (
        |    SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
        |    ORDER BY c DESC, tok LIMIT 1000)),
        |j AS (SELECT source, v.in_vocab FROM toks t
        |  LEFT JOIN vocab v ON t.tok = v.tok)
        |SELECT source, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  ROUND(CAST(SUM(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
        |FROM j GROUP BY source""".stripMargin), scale = true),
    // lagged CCF view→purchase: per-lag exact sufficient sums over the
    // inner-joined bounded hour axis, one guarded double expression
    // scale reason, shared with q_holt_winters, q_kendall_tau,
    // q_two_proportion_z, q_lexical_diversity:
    // Holt-Winters folds the same bounded axis as holt_linear; CCF/tau
    // and the z-test collapse to bounded sufficient stats; lexical
    // diversity is the vocab-bounded two-level aggregation
    // bnlj: 13 broadcast lag rows against the bounded hourly axis
    QuerySpec("q_cross_correlation", (s, d) => Stats.crossCorrelation(s, d), Some(
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |x AS (SELECT hr, n AS x FROM hourly WHERE event_type = 'view'),
        |y AS (SELECT hr AS yhr, n AS y FROM hourly WHERE event_type = 'purchase'),
        |lagged AS (
        |  SELECT l.lag, x.x, y.y
        |  FROM x CROSS JOIN (SELECT unnest(range(0, 13)) AS lag) l
        |  JOIN y ON y.yhr = x.hr + l.lag),
        |agg AS (
        |  SELECT lag, COUNT(*) AS n_hours,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
        |    SUM(x*x) AS sxx, SUM(y*y) AS syy
        |  FROM lagged GROUP BY lag)
        |SELECT CAST(lag AS BIGINT) AS lag, n_hours,
        |  ROUND(CASE WHEN n_hours * sxx - sx * sx > 0
        |    AND n_hours * syy - sy * sy > 0 THEN
        |    (CAST(n_hours AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (sqrt(CAST(n_hours AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |     sqrt(CAST(n_hours AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END, 6) AS ccf
        |FROM agg""".stripMargin), scale = true, bnlj = true),
    // Kendall tau-b on the hour-paired (view, purchase) counts: exact
    // integer S and tie counts, one final double
    QuerySpec("q_kendall_tau", (s, d) => Stats.kendallTau(s, d), Some(
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |xy AS (
        |  SELECT x.hr, x.n AS x, y.n AS y
        |  FROM (SELECT hr, n FROM hourly WHERE event_type = 'view') x
        |  JOIN (SELECT hr, n FROM hourly WHERE event_type = 'purchase') y
        |    USING (hr)),
        |p AS (
        |  SELECT COUNT(*) AS n0,
        |    SUM(CASE WHEN (b.x > a.x AND b.y > a.y) OR (b.x < a.x AND b.y < a.y)
        |          THEN 1
        |        WHEN (b.x > a.x AND b.y < a.y) OR (b.x < a.x AND b.y > a.y)
        |          THEN -1 ELSE 0 END) AS s,
        |    SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS n1,
        |    SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS n2
        |  FROM xy a JOIN xy b ON a.hr < b.hr)
        |SELECT n0 AS n_pairs, CAST(s AS BIGINT) AS s,
        |  CAST(n1 AS BIGINT) AS ties_x, CAST(n2 AS BIGINT) AS ties_y,
        |  ROUND(CASE WHEN n0 - n1 > 0 AND n0 - n2 > 0 THEN
        |    CAST(s AS DOUBLE) / (sqrt(CAST(n0 - n1 AS DOUBLE))
        |      * sqrt(CAST(n0 - n2 AS DOUBLE))) END, 6) AS tau_b
        |FROM p""".stripMargin), scale = true),
    // two-proportion z: four exact integers, one pooled expression
    // bnlj: 1-row arm A summary × 1-row arm B summary
    QuerySpec("q_two_proportion_z", (s, d) => Stats.twoProportionZ(s, d), Some(
      """WITH pu AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1),
        |arms AS (
        |  SELECT (user_id % 2 = 0) AS arm_a, COUNT(*) AS n,
        |    CAST(SUM(conv) AS BIGINT) AS k
        |  FROM pu GROUP BY 1),
        |j AS (
        |  SELECT a.n AS na, a.k AS ka, b.n AS nb, b.k AS kb,
        |    CAST(a.k AS DOUBLE) / CAST(a.n AS DOUBLE) AS pa,
        |    CAST(b.k AS DOUBLE) / CAST(b.n AS DOUBLE) AS pb,
        |    CAST(a.k + b.k AS DOUBLE) / CAST(a.n + b.n AS DOUBLE) AS pp
        |  FROM (SELECT * FROM arms WHERE arm_a) a,
        |       (SELECT * FROM arms WHERE NOT arm_a) b)
        |SELECT na, ka, nb, kb,
        |  ROUND(pa, 6) AS rate_a, ROUND(pb, 6) AS rate_b,
        |  ROUND(CASE WHEN pp > 0 AND pp < 1 THEN (pa - pb) /
        |    sqrt(pp * (1.0 - pp)
        |      * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))) END, 6)
        |    AS z
        |FROM j""".stripMargin), scale = true, bnlj = true),
    // BH-FDR: z is IEEE-exact on both engines (integer counts, exact
    // divisions, correctly-rounded sqrt); the A&S 26.2.17 Horner tail
    // is spelled identically; ranking orders by the bit-exact |z|, and
    // the rejection compares the ROUNDED p to the exact threshold
    // bnlj: 1-row arm totals against the per-type sufficient stats
    QuerySpec("q_bh_fdr", (s, d) => Stats.bhFdr(s, d), Some(
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |tot AS (SELECT
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM u),
        |tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |pt AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ka,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS kb
        |  FROM tu GROUP BY 1),
        |s AS (SELECT event_type, ka, kb, na, nb,
        |    CAST(ka AS DOUBLE) / CAST(na AS DOUBLE) AS pa,
        |    CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE) AS pb,
        |    CAST(ka + kb AS DOUBLE) / CAST(na + nb AS DOUBLE) AS pp
        |  FROM pt CROSS JOIN tot),
        |z1 AS (SELECT *, CASE WHEN pp > 0 AND pp < 1 THEN (pa - pb) /
        |    sqrt(pp * (1.0 - pp)
        |      * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))) END AS z
        |  FROM s),
        |z2 AS (SELECT *, abs(z) AS az,
        |    1.0 / (1.0 + 0.2316419 * abs(z)) AS t FROM z1),
        |pv AS (SELECT *, CASE WHEN az IS NOT NULL THEN
        |    2.0 * (exp(-(az * az) / 2.0) / 2.5066282746310002 *
        |      (t * (0.319381530 + t * (-0.356563782 + t * (1.781477937 +
        |        t * (-1.821255978 + t * 1.330274429)))))) END AS p
        |  FROM z2),
        |r AS (SELECT *,
        |    ROW_NUMBER() OVER (ORDER BY az DESC NULLS LAST, event_type ASC) AS i,
        |    COUNT(z) OVER () AS m FROM pv),
        |h AS (SELECT *, CASE WHEN p IS NOT NULL AND ROUND(p, 6) <=
        |    CAST(0.1 AS DOUBLE) * CAST(i AS DOUBLE) / CAST(m AS DOUBLE)
        |    THEN i END AS hi FROM r),
        |f AS (SELECT *, MAX(hi) OVER () AS istar FROM h)
        |SELECT event_type, ka, kb, ROUND(z, 6) AS z, ROUND(p, 6) AS p_value,
        |  CAST(i AS INTEGER) AS p_rank,
        |  i <= COALESCE(istar, 0) AS rejected
        |FROM f""".stripMargin), bnlj = true),
    // one-way ANOVA: exact decimal (n, Σv, Σv²) per group; k-row terms
    // bridged through round-9 → DECIMAL(38,9) sums; F one mirrored expr
    QuerySpec("q_anova", (s, d) => Stats.anovaF(s, d), Some(
      """WITH g AS (SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(12,2))) AS s,
        |    SUM(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))
        |        AS DECIMAL(38,4))) AS ss
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |t AS (SELECT n, s, ss,
        |    CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 9)
        |      AS DECIMAL(38,9)) AS g2n,
        |    CAST(ROUND(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE), 9) AS DECIMAL(38,9)) AS w
        |  FROM g),
        |a AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n_total,
        |    SUM(s) AS s_all, SUM(g2n) AS sum_g2n, SUM(w) AS ssw9 FROM t),
        |e AS (SELECT k, n_total,
        |    CAST(sum_g2n AS DOUBLE) - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
        |      / CAST(n_total AS DOUBLE) AS ssb,
        |    CAST(ssw9 AS DOUBLE) AS ssw
        |  FROM a)
        |SELECT CAST(k AS INTEGER) AS k_groups, n_total,
        |  ROUND(ssb, 6) AS ss_between, ROUND(ssw, 6) AS ss_within,
        |  ROUND(CASE WHEN k > 1 AND n_total > k AND ssw > 0 THEN
        |    (ssb / (CAST(k AS DOUBLE) - 1.0))
        |      / (ssw / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))) END, 6) AS f_stat,
        |  ROUND(CASE WHEN ssb + ssw > 0 THEN ssb / (ssb + ssw) END, 6) AS eta_sq
        |FROM e""".stripMargin)),
    // Tukey HSD: same sufficient stats; the pair grid is k² rows
    // bnlj: |types|² pair grid: k-row self-join under an inequality key
    QuerySpec("q_tukey_hsd", (s, d) => Stats.tukeyHsd(s, d), Some(
      """WITH g AS (SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(12,2))) AS s,
        |    SUM(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))
        |        AS DECIMAL(38,4))) AS ss
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |m AS (SELECT
        |    CAST(SUM(CAST(ROUND(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |        / CAST(n AS DOUBLE), 9) AS DECIMAL(38,9))) AS DOUBLE)
        |      / (CAST(SUM(n) AS DOUBLE) - CAST(COUNT(*) AS DOUBLE)) AS msw
        |  FROM g)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  a.n AS na, b.n AS nb,
        |  ROUND(CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
        |    - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE), 6) AS mean_diff,
        |  ROUND(CASE WHEN msw > 0 THEN
        |    ABS(CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
        |      - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
        |    / sqrt(msw / 2.0 * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE)))
        |    END, 6) AS q_stat
        |FROM g a JOIN g b ON a.event_type < b.event_type CROSS JOIN m""".stripMargin), bnlj = true),
    // Wilson interval: exact distinct-user integers; z inlined literal
    // bnlj: 1-row distinct-user total against the per-type counts
    QuerySpec("q_wilson_ci", (s, d) => Stats.wilsonCi(s, d), Some(
      """WITH n AS (SELECT COUNT(DISTINCT user_id) AS n FROM events),
        |k AS (SELECT event_type, COUNT(*) AS k
        |  FROM (SELECT DISTINCT event_type, user_id FROM events) GROUP BY 1),
        |e AS (SELECT event_type, k.k, n.n,
        |    CAST(k.k AS DOUBLE) / CAST(n.n AS DOUBLE) AS p,
        |    1.0 + 1.959963984540054 * 1.959963984540054 / CAST(n.n AS DOUBLE) AS den
        |  FROM k CROSS JOIN n),
        |c AS (SELECT *,
        |    (p + 1.959963984540054 * 1.959963984540054
        |      / (2.0 * CAST(n AS DOUBLE))) / den AS ctr,
        |    1.959963984540054 * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
        |      + 1.959963984540054 * 1.959963984540054
        |        / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / den AS half
        |  FROM e)
        |SELECT event_type, k AS k_users, n AS n_users,
        |  ROUND(p, 6) AS rate,
        |  ROUND(ctr - half, 6) AS wilson_lo,
        |  ROUND(ctr + half, 6) AS wilson_hi
        |FROM c""".stripMargin), bnlj = true),
    // Cochran–Armitage: integer thresholds for doses, three integer
    // moments over ≤6 rows, one guarded double expression
    QuerySpec("q_cochran_armitage", (s, d) => Stats.cochranArmitage(s, d), Some(
      """WITH pu AS (SELECT user_id, COUNT(*) AS cnt,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1),
        |dd AS (SELECT CASE WHEN cnt >= 32 THEN 5 WHEN cnt >= 16 THEN 4
        |    WHEN cnt >= 8 THEN 3 WHEN cnt >= 4 THEN 2
        |    WHEN cnt >= 2 THEN 1 ELSE 0 END AS dose, conv FROM pu),
        |bd AS (SELECT dose, COUNT(*) AS n_i, SUM(conv) AS r_i FROM dd GROUP BY 1),
        |m AS (SELECT CAST(SUM(n_i) AS BIGINT) AS n, CAST(SUM(r_i) AS BIGINT) AS r,
        |    CAST(SUM(dose * r_i) AS BIGINT) AS a,
        |    CAST(SUM(dose * n_i) AS BIGINT) AS b,
        |    CAST(SUM(dose * dose * n_i) AS BIGINT) AS c FROM bd),
        |e AS (SELECT *,
        |    CAST(a AS DOUBLE) - (CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
        |      * CAST(b AS DOUBLE) AS num,
        |    ((CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE)))
        |      * (CAST(c AS DOUBLE) - CAST(b AS DOUBLE) * CAST(b AS DOUBLE)
        |        / CAST(n AS DOUBLE)) AS v
        |  FROM m)
        |SELECT n AS n_users, r AS n_converted, a, b, c,
        |  ROUND(CASE WHEN v > 0 THEN num / sqrt(v) END, 6) AS z_trend
        |FROM e""".stripMargin)),
    // Nelson–Aalen: the KM recursive-CTE fold carrying (H, varH) —
    // cumulative sums add-for-add with the typed fold (+0.0 at censor
    // rows is an IEEE identity), doubles BIT-identical
    QuerySpec("q_nelson_aalen", (s, d) => Stats.nelsonAalen(s, d), Some(
      """WITH RECURSIVE per_user AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS t0,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp,
        |    MAX(epoch_us(ts)) AS tlast
        |  FROM events GROUP BY 1),
        |dur AS (
        |  SELECT CASE WHEN tp IS NOT NULL THEN (tp - t0) // 3600000000
        |              ELSE (tlast - t0) // 3600000000 END AS t,
        |    (tp IS NOT NULL) AS ev
        |  FROM per_user),
        |bytime AS (
        |  SELECT t, SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS d, COUNT(*) AS c
        |  FROM dur GROUP BY t),
        |o AS (
        |  SELECT t, d, ROW_NUMBER() OVER (ORDER BY t) AS rn,
        |    SUM(c) OVER () - COALESCE(SUM(c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM bytime),
        |r AS (
        |  SELECT t, d, rn, n_risk,
        |    CASE WHEN d > 0 THEN CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |         ELSE CAST(0.0 AS DOUBLE) END AS h,
        |    CASE WHEN d > 0 THEN CAST(d AS DOUBLE)
        |        / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE))
        |         ELSE CAST(0.0 AS DOUBLE) END AS vh
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.t, o.d, o.rn, o.n_risk,
        |    r.h + (CASE WHEN o.d > 0
        |      THEN CAST(o.d AS DOUBLE) / CAST(o.n_risk AS DOUBLE) ELSE 0.0 END),
        |    r.vh + (CASE WHEN o.d > 0
        |      THEN CAST(o.d AS DOUBLE)
        |        / (CAST(o.n_risk AS DOUBLE) * CAST(o.n_risk AS DOUBLE)) ELSE 0.0 END)
        |  FROM r JOIN o ON o.rn = r.rn + 1)
        |SELECT t AS t_hours, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS d_events, h AS cum_hazard, vh AS var_hazard
        |FROM r WHERE d > 0""".stripMargin)),
    // median/MAD per-type SUMMARY (the rollup complement of
    // q_mad_outliers' per-event robust-z flags): both medians exact
    // integer order statistics from histograms; the flag compares an
    // integer to ONE mirrored double product
    // scale reason, shared with q_user_paths, q_compression_ratio:
    // MAD rides two histogram passes; paths one user-keyed shuffle;
    // deflate is executor-local CPU-bound per-row codec work
    QuerySpec("q_mad_summary", (s, d) => Stats.madOutliers(s, d), Some(
      """WITH ev AS (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |tot AS (SELECT event_type, COUNT(*) AS n FROM ev GROUP BY 1),
        |h1 AS (SELECT event_type, cents, COUNT(*) AS c FROM ev GROUP BY 1, 2),
        |c1 AS (SELECT event_type, cents,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h1),
        |med AS (SELECT c1.event_type, n, MIN(cents) AS med_cents
        |  FROM c1 JOIN tot USING (event_type)
        |  WHERE cum >= (n + 1) // 2 GROUP BY 1, 2),
        |dv AS (SELECT ev.event_type, ABS(cents - med_cents) AS dev
        |  FROM ev JOIN med USING (event_type)),
        |h2 AS (SELECT event_type, dev, COUNT(*) AS c FROM dv GROUP BY 1, 2),
        |c2 AS (SELECT event_type, dev,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY dev
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h2),
        |mad AS (SELECT c2.event_type, MIN(dev) AS mad_cents
        |  FROM c2 JOIN med USING (event_type)
        |  WHERE cum >= (n + 1) // 2 GROUP BY 1),
        |f AS (SELECT ev.event_type, n, med_cents, mad_cents,
        |    CAST(SUM(CASE WHEN CAST(ABS(cents - med_cents) AS DOUBLE) >
        |      3.0 * 1.4826 * CAST(mad_cents AS DOUBLE) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_outliers
        |  FROM ev JOIN med USING (event_type) JOIN mad USING (event_type)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT event_type, n, med_cents, mad_cents, n_outliers,
        |  ROUND(CAST(n_outliers AS DOUBLE) / CAST(n AS DOUBLE), 6) AS outlier_rate
        |FROM f""".stripMargin), scale = true),
    // Wilcoxon signed-rank: midranks in exact 2x-rank integer units
    // over the |d| histogram; z/p arithmetic mirrored op-for-op
    // scale reason, shared with q_zipf_fit, q_nb_confusion:
    // wilcoxon folds to a per-user groupBy + |d|-histogram window;
    // zipf/nb are token-explode corpus verbs with vocab-bounded shuffles
    // bnlj: 1-row broadcast window midpoint against the per-user counts
    QuerySpec("q_wilcoxon_sr", (s, d) => Stats.wilcoxonSignedRank(s, d), Some(
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS t_mid FROM ev),
        |d AS (SELECT user_id,
        |    SUM(CASE WHEN us > t_mid THEN 1 ELSE 0 END)
        |      - SUM(CASE WHEN us <= t_mid THEN 1 ELSE 0 END) AS d
        |  FROM ev, mid GROUP BY 1),
        |dn AS (SELECT d FROM d WHERE d <> 0),
        |h AS (SELECT ABS(d) AS ad, COUNT(*) AS c,
        |    SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS cpos FROM dn GROUP BY 1),
        |r AS (SELECT ad, c, cpos,
        |    2 * COALESCE(SUM(c) OVER (ORDER BY ad
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
        |  FROM h),
        |a AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(cpos * r2) AS BIGINT) AS wp2,
        |    CAST(SUM(c * c * c - c) AS BIGINT) AS ties3 FROM r),
        |s AS (SELECT n, wp2, CAST(n AS DOUBLE) AS nd,
        |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
        |      * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
        |      - CAST(ties3 AS DOUBLE) / 48.0 AS v FROM a),
        |z AS (SELECT n, wp2,
        |    CASE WHEN n > 0 AND v > 0 THEN
        |      (CAST(wp2 AS DOUBLE) / 2.0 - nd * (nd + 1.0) / 4.0) / sqrt(v) END AS z0
        |  FROM s),
        |p AS (SELECT n, wp2, z0, ABS(z0) AS az,
        |    1.0 / (1.0 + 0.2316419 * ABS(z0)) AS t FROM z)
        |SELECT n AS n_pairs, CAST(wp2 AS DOUBLE) / 2.0 AS w_plus,
        |  ROUND(z0, 6) AS z,
        |  ROUND(CASE WHEN az IS NOT NULL THEN
        |    2.0 * (exp(-(az * az) / 2.0) / 2.5066282746310002 *
        |      (t * (0.319381530 + t * (-0.356563782 + t * (1.781477937
        |        + t * (-1.821255978 + t * 1.330274429)))))) END, 6) AS p_value
        |FROM p""".stripMargin), scale = true, bnlj = true),
    // burstiness: per-(user,type) integer-second gaps from the µs
    // total order; three exact sufficient stats per type
    // scale reason, shared with q_entropy_rate:
    // burstiness lags within (user,type) partitions; entropy rate is
    // the same transition stream folded to a |types|² term grid
    QuerySpec("q_burstiness", (s, d) => Stats.burstiness(s, d), Some(
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events),
        |g AS (SELECT event_type,
        |    (us - LAG(us) OVER (PARTITION BY user_id, event_type
        |      ORDER BY us, event_id)) // 1000000 AS g
        |  FROM ev),
        |gg AS (SELECT event_type, g FROM g WHERE g IS NOT NULL),
        |s AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(g) AS BIGINT) AS s,
        |    SUM(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0))) AS ss
        |  FROM gg GROUP BY 1),
        |e AS (SELECT event_type, n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS v
        |  FROM s WHERE n > 1),
        |f AS (SELECT event_type, n, mean, sqrt(GREATEST(v, 0.0)) AS sd FROM e)
        |SELECT event_type, n AS n_gaps, ROUND(mean, 6) AS mean_gap_s,
        |  ROUND(CASE WHEN mean > 0 THEN sd / mean END, 6) AS cv,
        |  ROUND(CASE WHEN sd + mean > 0 THEN (sd - mean) / (sd + mean) END, 6)
        |    AS burstiness
        |FROM f""".stripMargin), scale = true),
    // effect size / MDE: exact per-arm integer sufficient stats,
    // z constants inlined, every double mirrored
    // scale reason, shared with q_stream_cusum:
    // effect size is one arm-split scan; stream_cusum replays the
    // corpus through bounded per-type hourly state
    QuerySpec("q_effect_size", (s, d) => Stats.effectSize(s, d), Some(
      """WITH ev AS (SELECT event_type,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |    user_id % 2 = 0 AS arm_a
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN arm_a THEN cents ELSE 0 END) AS BIGINT) AS sa,
        |    CAST(SUM(CASE WHEN NOT arm_a THEN cents ELSE 0 END) AS BIGINT) AS sb,
        |    SUM(CASE WHEN arm_a THEN CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS ssa,
        |    SUM(CASE WHEN NOT arm_a THEN CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS ssb
        |  FROM ev GROUP BY 1),
        |e AS (SELECT event_type, na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
        |    sqrt(GREATEST(((CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
        |        / CAST(na AS DOUBLE))
        |      + (CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
        |        / CAST(nb AS DOUBLE)))
        |      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0), 0.0)) AS sp,
        |    (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
        |      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) AS pm
        |  FROM g WHERE na > 1 AND nb > 1)
        |SELECT event_type, na, nb,
        |  ROUND(ma, 6) AS mean_a_cents, ROUND(mb, 6) AS mean_b_cents,
        |  ROUND(sp, 6) AS pooled_sd,
        |  ROUND(CASE WHEN sp > 0 THEN (ma - mb) / sp END, 6) AS cohens_d,
        |  ROUND(CASE WHEN sp > 0 AND pm > 0 THEN
        |    2.8015852181 * sp * sqrt(1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))
        |      / pm END, 6) AS mde_rel
        |FROM e""".stripMargin), scale = true),
    // entropy rate: exact transition counts; each -p ln p term
    // round-9 through the DECIMAL channel
    // bnlj: 1-row transition total against the |types|² term grid
    QuerySpec("q_entropy_rate", (s, d) => Analytics.entropyRate(s, d), Some(
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events),
        |p AS (SELECT event_type AS cur_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS prev_type
        |  FROM ev),
        |c AS (SELECT prev_type, cur_type, COUNT(*) AS c FROM p
        |  WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS nt FROM c),
        |cp AS (SELECT prev_type, CAST(SUM(c) AS BIGINT) AS cp FROM c GROUP BY 1),
        |cn AS (SELECT cur_type, CAST(SUM(c) AS BIGINT) AS cn FROM c GROUP BY 1),
        |hc AS (SELECT SUM(CAST(ROUND(-(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(cp AS DOUBLE)), 9)
        |      AS DECIMAL(38,9))) AS h_cond9, COUNT(*) AS n_pairs
        |  FROM c JOIN cp USING (prev_type), nt),
        |hn AS (SELECT MAX(nt) AS nt,
        |    SUM(CAST(ROUND(-(CAST(cn AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * ln(CAST(cn AS DOUBLE) / CAST(nt AS DOUBLE)), 9)
        |      AS DECIMAL(38,9))) AS h_next9
        |  FROM cn, nt)
        |SELECT nt AS n_transitions, CAST(n_pairs AS INTEGER) AS n_pairs,
        |  ROUND(CAST(h_cond9 AS DOUBLE), 6) AS h_cond,
        |  ROUND(CAST(h_next9 AS DOUBLE), 6) AS h_next,
        |  ROUND(CAST(h_next9 AS DOUBLE) - CAST(h_cond9 AS DOUBLE), 6) AS mutual_info
        |FROM hc, hn""".stripMargin), scale = true, bnlj = true),
    // stickiness: trailing-window distinct via bounded x30 projection
    // of the DISTINCT (user, day) relation
    // scale reason, shared with q_process_edges:
    // stickiness's ×30 presence projection and the process graph's
    // per-edge gap histograms are the event-scan class
    QuerySpec("q_stickiness", (s, d) => Analytics.stickiness(s, d), Some(
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
        |pres AS (SELECT DISTINCT user_id, unnest(range(day, day + 30)) AS t_day
        |  FROM ud),
        |mau AS (SELECT t_day, COUNT(*) AS mau FROM pres GROUP BY 1)
        |SELECT day, dau, mau,
        |  ROUND(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE), 6) AS stickiness
        |FROM dau JOIN mau ON mau.t_day = dau.day""".stripMargin), scale = true),
    // process graph: consecutive-pair edges with exact lower-median
    // latency from the per-edge gap histogram
    // bnlj: 1-row grand total against the |types|² edge medians
    QuerySpec("q_process_edges", (s, d) => Analytics.processEdges(s, d), Some(
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events),
        |e AS (SELECT event_type AS src,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS dst,
        |    (LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us)
        |      // 1000000 AS gap_s
        |  FROM ev),
        |ed AS (SELECT src, dst, gap_s FROM e WHERE dst IS NOT NULL),
        |tot AS (SELECT src, dst, COUNT(*) AS n FROM ed GROUP BY 1, 2),
        |grand AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM tot),
        |h AS (SELECT src, dst, gap_s, COUNT(*) AS c FROM ed GROUP BY 1, 2, 3),
        |cm AS (SELECT src, dst, gap_s,
        |    SUM(c) OVER (PARTITION BY src, dst ORDER BY gap_s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h),
        |med AS (SELECT cm.src, cm.dst, n, MIN(gap_s) AS median_gap_s
        |  FROM cm JOIN tot ON tot.src = cm.src AND tot.dst = cm.dst
        |  WHERE cum >= (n + 1) // 2 GROUP BY 1, 2, 3)
        |SELECT src, dst, n AS n_transitions, median_gap_s,
        |  ROUND(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS share
        |FROM med, grand""".stripMargin), scale = true, bnlj = true),
    // changepoint: integer hourly prefix sums, one mirrored double
    // gain expression per boundary, argmax tie-broken earliest
    // scale reason, shared with q_silhouette, q_calinski:
    // changepoint is one scan + bounded-axis windows; the validity
    // indices are corpus × |labels| broadcast-centroid scans
    // bnlj: 1-row broadcast totals against the bounded hourly axis
    QuerySpec("q_changepoint", (s, d) => Stats.changepoint(s, d), Some(
      """WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hr, COUNT(*) AS n,
        |    SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st FROM h),
        |p AS (SELECT hr,
        |    CAST(SUM(n) OVER (ORDER BY hr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n1,
        |    CAST(SUM(s) OVER (ORDER BY hr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s1
        |  FROM h),
        |g AS (SELECT hr, n1, s1, nt, st,
        |    CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      + CAST(st - s1 AS DOUBLE) * CAST(st - s1 AS DOUBLE)
        |        / CAST(nt - n1 AS DOUBLE)
        |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) AS gain
        |  FROM p, t WHERE n1 < nt),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY gain DESC, hr ASC) AS rn FROM g)
        |SELECT hr AS split_hr, n1 AS n_before, nt - n1 AS n_after,
        |  ROUND(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS mean_before_cents,
        |  ROUND(CAST(st - s1 AS DOUBLE) / CAST(nt - n1 AS DOUBLE), 6) AS mean_after_cents,
        |  ROUND(gain, 6) AS ss_gain
        |FROM r WHERE rn = 1""".stripMargin), scale = true, bnlj = true),
    // simplified silhouette: round-9 DECIMAL centroids, expansion-form
    // distances clamped at 0, per-label mean through the DECIMAL channel
    // bnlj: |labels| broadcast centroids × corpus — the kmeans_assign shape
    QuerySpec("q_silhouette", (s, d) => Similarity.silhouetteByLabel(s, d), Some(
      """WITH e AS (SELECT vec_id, label, embedding,
        |    list_sum(list_transform(embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS sqx
        |  FROM embeddings),
        |d AS (SELECT label, unnest(range(0, len(embedding))) AS pos,
        |    unnest(embedding) AS x FROM embeddings),
        |cs AS (SELECT label, pos,
        |    SUM(CAST(ROUND(CAST(x AS DOUBLE), 9) AS DECIMAL(38,9))) AS sx
        |  FROM d GROUP BY 1, 2),
        |nl AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1),
        |ca AS (SELECT cs.label AS c_label,
        |    list(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY pos) AS c_emb
        |  FROM cs JOIN nl ON nl.label = cs.label GROUP BY 1),
        |cb AS (SELECT c_label, c_emb,
        |    list_sum(list_transform(c_emb, v -> v * v)) AS sqc FROM ca),
        |pair AS (SELECT e.vec_id, e.label, cb.c_label,
        |    sqrt(GREATEST(e.sqx + cb.sqc - 2.0 * list_sum(list_transform(e.embedding,
        |      (v, i) -> CAST(v AS DOUBLE) * cb.c_emb[i])), 0.0)) AS dist
        |  FROM e CROSS JOIN cb),
        |ab AS (SELECT vec_id, label,
        |    MAX(CASE WHEN c_label = label THEN dist END) AS a,
        |    MIN(CASE WHEN c_label <> label THEN dist END) AS b
        |  FROM pair GROUP BY 1, 2),
        |sv AS (SELECT label, CASE WHEN GREATEST(a, b) > 0
        |    THEN (b - a) / GREATEST(a, b) ELSE 0.0 END AS s FROM ab)
        |SELECT label, COUNT(*) AS n_vecs,
        |  ROUND(CAST(SUM(CAST(ROUND(s, 9) AS DECIMAL(38,9))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_silhouette
        |FROM sv GROUP BY 1""".stripMargin), scale = true, bnlj = true),
    // Calinski-Harabasz: same centroids; global centroid DEFINED from
    // corpus-wide per-dimension DECIMAL sums; B folds k label rows,
    // W one scan, both through the round-9 DECIMAL bridge
    // bnlj: |labels| centroid rows × 1-row global centroid / totals
    QuerySpec("q_calinski", (s, d) => Similarity.calinskiHarabasz(s, d), Some(
      """WITH e AS (SELECT label, embedding,
        |    list_sum(list_transform(embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS sqx
        |  FROM embeddings),
        |d AS (SELECT label, unnest(range(0, len(embedding))) AS pos,
        |    unnest(embedding) AS x FROM embeddings),
        |cs AS (SELECT label, pos,
        |    SUM(CAST(ROUND(CAST(x AS DOUBLE), 9) AS DECIMAL(38,9))) AS sx
        |  FROM d GROUP BY 1, 2),
        |nl AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1),
        |ca AS (SELECT cs.label, MAX(n) AS n,
        |    list(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY pos) AS c_emb
        |  FROM cs JOIN nl ON nl.label = cs.label GROUP BY 1),
        |gs AS (SELECT pos,
        |    SUM(CAST(ROUND(CAST(x AS DOUBLE), 9) AS DECIMAL(38,9))) AS gx
        |  FROM d GROUP BY 1),
        |nt AS (SELECT COUNT(*) AS n_total FROM embeddings),
        |g AS (SELECT list(CAST(gx AS DOUBLE) / CAST(n_total AS DOUBLE)
        |      ORDER BY pos) AS g_emb, MAX(n_total) AS n_total
        |  FROM gs, nt),
        |bb AS (SELECT COUNT(*) AS k, MAX(g.n_total) AS n_total,
        |    SUM(CAST(ROUND(CAST(ca.n AS DOUBLE) * GREATEST(
        |      list_sum(list_transform(c_emb, v -> v * v))
        |      + list_sum(list_transform(g_emb, v -> v * v))
        |      - 2.0 * list_sum(list_transform(c_emb, (v, i) -> v * g_emb[i])),
        |      0.0), 9) AS DECIMAL(38,9))) AS b9
        |  FROM ca, g),
        |ww AS (SELECT SUM(CAST(ROUND(GREATEST(e.sqx
        |      + list_sum(list_transform(ca.c_emb, v -> v * v))
        |      - 2.0 * list_sum(list_transform(e.embedding,
        |        (v, i) -> CAST(v AS DOUBLE) * ca.c_emb[i])), 0.0), 9)
        |      AS DECIMAL(38,9))) AS w9
        |  FROM e JOIN ca ON ca.label = e.label)
        |SELECT CAST(k AS INTEGER) AS k_labels, CAST(n_total AS BIGINT) AS n_total,
        |  ROUND(CAST(b9 AS DOUBLE), 6) AS b_ss, ROUND(CAST(w9 AS DOUBLE), 6) AS w_ss,
        |  ROUND(CASE WHEN k > 1 AND n_total > k AND CAST(w9 AS DOUBLE) > 0 THEN
        |    (CAST(b9 AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))
        |      / (CAST(w9 AS DOUBLE) / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE)))
        |    END, 6) AS ch_index
        |FROM bb, ww""".stripMargin), scale = true, bnlj = true),
    // McNemar: integer day index from the day-aligned global min,
    // continuity-corrected chi2, 1-df survival via the normal tail
    // bnlj: 1-row broadcast day-zero against the log
    QuerySpec("q_mcnemar", (s, d) => Stats.mcnemar(s, d), Some(
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |d0 AS (SELECT MIN(us) - MIN(us) % 86400000000 AS t0 FROM ev),
        |f AS (SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase'
        |      AND (us - t0) // 86400000000 < 7 THEN 1 ELSE 0 END) AS early,
        |    MAX(CASE WHEN event_type = 'purchase'
        |      AND (us - t0) // 86400000000 >= 23 THEN 1 ELSE 0 END) AS late
        |  FROM ev, d0 GROUP BY 1),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(CASE WHEN early = 1 AND late = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |    CAST(SUM(CASE WHEN early = 0 AND late = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neither,
        |    CAST(SUM(CASE WHEN early = 1 AND late = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b_disc,
        |    CAST(SUM(CASE WHEN early = 0 AND late = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_disc
        |  FROM f),
        |x AS (SELECT *, CASE WHEN b_disc + c_disc > 0 THEN
        |    (CAST(ABS(b_disc - c_disc) AS DOUBLE) - 1.0)
        |      * (CAST(ABS(b_disc - c_disc) AS DOUBLE) - 1.0)
        |      / CAST(b_disc + c_disc AS DOUBLE) END AS chi2 FROM c),
        |p AS (SELECT *, sqrt(chi2) AS az,
        |    1.0 / (1.0 + 0.2316419 * sqrt(chi2)) AS t FROM x)
        |SELECT n_users, n_both, n_neither, b_disc, c_disc,
        |  ROUND(chi2, 6) AS mcnemar_chi2,
        |  ROUND(CASE WHEN az IS NOT NULL THEN
        |    2.0 * (exp(-(az * az) / 2.0) / 2.5066282746310002 *
        |      (t * (0.319381530 + t * (-0.356563782 + t * (1.781477937
        |        + t * (-1.821255978 + t * 1.330274429)))))) END, 6) AS p_value
        |FROM p""".stripMargin), bnlj = true),
    // Brown-Forsythe: exact integer-cents lower medians (the
    // q_mad_summary selection), integer |dev| sufficient stats, the
    // q_anova decimal-bridged F assembly on the deviations
    QuerySpec("q_brown_forsythe", (s, d) => Stats.brownForsythe(s, d), Some(
      """WITH ev AS (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |tot AS (SELECT event_type, COUNT(*) AS n FROM ev GROUP BY 1),
        |h1 AS (SELECT event_type, cents, COUNT(*) AS c FROM ev GROUP BY 1, 2),
        |c1 AS (SELECT event_type, cents,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h1),
        |med AS (SELECT c1.event_type, MIN(cents) AS med_cents
        |  FROM c1 JOIN tot USING (event_type)
        |  WHERE cum >= (n + 1) // 2 GROUP BY 1),
        |g AS (SELECT ev.event_type, COUNT(*) AS n,
        |    SUM(ABS(cents - med_cents)) AS s,
        |    SUM(ABS(cents - med_cents) * ABS(cents - med_cents)) AS ss
        |  FROM ev JOIN med USING (event_type) GROUP BY 1),
        |t AS (SELECT n, s,
        |    CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 9)
        |      AS DECIMAL(38,9)) AS g2n,
        |    CAST(ROUND(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE), 9) AS DECIMAL(38,9)) AS w
        |  FROM g),
        |a AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n_total,
        |    SUM(s) AS s_all, SUM(g2n) AS sum_g2n, SUM(w) AS ssw9 FROM t),
        |e AS (SELECT k, n_total,
        |    CAST(sum_g2n AS DOUBLE) - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
        |      / CAST(n_total AS DOUBLE) AS ssb,
        |    CAST(ssw9 AS DOUBLE) AS ssw
        |  FROM a)
        |SELECT CAST(k AS INTEGER) AS k_groups, n_total,
        |  ROUND(ssb, 6) AS ss_between, ROUND(ssw, 6) AS ss_within,
        |  ROUND(CASE WHEN k > 1 AND n_total > k AND ssw > 0 THEN
        |    (ssb / (CAST(k AS DOUBLE) - 1.0))
        |      / (ssw / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))) END, 6) AS bf_stat
        |FROM e""".stripMargin)),
    // Zipf fit: deterministic (count desc, token asc) ranks; ln
    // regressors rounded to 9 decimals BEFORE any product; all five
    // OLS sums through the DECIMAL(38,9) order-independent channel
    QuerySpec("q_zipf_fit", (s, d) => TextAnalysis.zipfFit(s, d), Some(
      """WITH tok AS (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |    t -> t <> '')) AS token FROM documents),
        |c AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY 1),
        |r AS (SELECT token, n,
        |    ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rank FROM c),
        |pts AS (SELECT ROUND(ln(CAST(rank AS DOUBLE)), 9) AS x,
        |    ROUND(ln(CAST(n AS DOUBLE)), 9) AS y
        |  FROM r WHERE rank <= 500),
        |s AS (SELECT COUNT(*) AS m,
        |    SUM(CAST(x AS DECIMAL(38,9))) AS sx, SUM(CAST(y AS DECIMAL(38,9))) AS sy,
        |    SUM(CAST(ROUND(x * y, 9) AS DECIMAL(38,9))) AS sxy,
        |    SUM(CAST(ROUND(x * x, 9) AS DECIMAL(38,9))) AS sxx,
        |    SUM(CAST(ROUND(y * y, 9) AS DECIMAL(38,9))) AS syy FROM pts),
        |e AS (SELECT CAST(m AS BIGINT) AS m, CAST(m AS DOUBLE) AS md,
        |    CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |    CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
        |    CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        |  FROM s)
        |SELECT m AS n_ranks,
        |  ROUND(CASE WHEN vx > 0 THEN cxy / vx END, 6) AS zipf_slope,
        |  ROUND(CASE WHEN vx > 0 THEN (syd - (cxy / vx) * sxd) / md END, 6) AS intercept,
        |  ROUND(CASE WHEN vx > 0 AND vy > 0 THEN (cxy * cxy) / (vx * vy) END, 6)
        |    AS r_squared
        |FROM e""".stripMargin), scale = true),
    // quantile normalization: pure integer rank -> pooled-index -> value
    // selection; no interpolation site anywhere
    // bnlj: value-domain-bounded pooled histogram interval lookup
    QuerySpec("q_quantile_norm", (s, d) => TextAnalysis.quantileNorm(s, d), Some(
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |r AS (SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS r FROM d),
        |ns AS (SELECT source, COUNT(*) AS n_s FROM d GROUP BY 1),
        |nt AS (SELECT COUNT(*) AS n_total FROM d),
        |h AS (SELECT n_chars AS v, COUNT(*) AS c FROM d GROUP BY 1),
        |ch AS (SELECT v,
        |    SUM(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS cum_prev
        |  FROM h),
        |k AS (SELECT r.doc_id, r.source, r.n_chars,
        |    CASE WHEN n_s > 1 THEN (r - 1) * (n_total - 1) // (n_s - 1)
        |      ELSE (n_total - 1) // 2 END AS k
        |  FROM r JOIN ns USING (source), nt)
        |SELECT doc_id, source, n_chars, v AS norm_chars
        |FROM k JOIN ch ON k + 1 > cum_prev AND k + 1 <= cum""".stripMargin), bnlj = true),
    // NB lang confusion: identical capped vocab, Laplace log-probs
    // quantized to INTEGER nanolog units (round(ln*1e9) -> BIGINT) at
    // model build, pure-BIGINT doc scores, argmax (score desc, lang asc)
    // bnlj: |vocab| × |langs| broadcast model grid
    QuerySpec("q_nb_confusion", (s, d) => TextAnalysis.nbLangClassify(s, d), Some(
      """WITH dt AS (SELECT doc_id, lang, token, COUNT(*) AS n_dt
        |  FROM (SELECT doc_id, lang,
        |      unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |        t -> t <> '')) AS token
        |    FROM documents) GROUP BY 1, 2, 3),
        |voc AS (SELECT token FROM (SELECT token, SUM(n_dt) AS n,
        |    ROW_NUMBER() OVER (ORDER BY SUM(n_dt) DESC, token ASC) AS rank
        |  FROM dt GROUP BY token) WHERE rank <= 2000),
        |iv AS (SELECT dt.* FROM dt JOIN voc USING (token)),
        |lg AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |nd AS (SELECT COUNT(*) AS n_all FROM documents),
        |clt AS (SELECT lang, token, SUM(n_dt) AS c FROM iv GROUP BY 1, 2),
        |tl AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t_l FROM clt GROUP BY 1),
        |grid AS (SELECT l.lang, v.token, COALESCE(c.c, 0) AS c, tl.t_l
        |  FROM voc v CROSS JOIN (SELECT lang FROM lg) l
        |  LEFT JOIN clt c ON c.lang = l.lang AND c.token = v.token
        |  JOIN tl ON tl.lang = l.lang),
        |model AS (SELECT lang, token,
        |    CAST(ROUND(ln(CAST(c + 1 AS DOUBLE) / CAST(t_l + 2000 AS DOUBLE))
        |      * 1000000000.0) AS BIGINT) AS lp9 FROM grid),
        |prior AS (SELECT lang,
        |    CAST(ROUND(ln(CAST(n_docs AS DOUBLE) / CAST(n_all AS DOUBLE))
        |      * 1000000000.0) AS BIGINT) AS prior9 FROM lg, nd),
        |sc AS (SELECT iv.doc_id, iv.lang AS lang_true, m.lang,
        |    CAST(SUM(iv.n_dt * m.lp9) AS BIGINT) AS ll9
        |  FROM iv JOIN model m USING (token) GROUP BY 1, 2, 3),
        |fin AS (SELECT sc.doc_id, sc.lang_true, sc.lang,
        |    sc.ll9 + p.prior9 AS score
        |  FROM sc JOIN prior p ON p.lang = sc.lang),
        |best AS (SELECT doc_id, lang_true, lang,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, lang ASC) AS rn FROM fin)
        |SELECT lang_true, lang AS lang_pred, COUNT(*) AS n_docs
        |FROM best WHERE rn = 1 GROUP BY 1, 2""".stripMargin), scale = true, bnlj = true),
    // top onboarding paths: (ts, event_id) is a total order so the
    // path strings are deterministic; ranking (count desc, path asc)
    QuerySpec("q_user_paths", (s, d) => Analytics.userPaths(s, d), Some(
      """WITH r AS (SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |f AS (SELECT user_id, string_agg(event_type, ' > ' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY 1),
        |pc AS (SELECT path, COUNT(*) AS n_users FROM f GROUP BY 1),
        |t AS (SELECT path, n_users,
        |    ROW_NUMBER() OVER (ORDER BY n_users DESC, path ASC) AS rnk FROM pc)
        |SELECT CAST(rnk AS INTEGER) AS rank, path, n_users
        |FROM t WHERE rnk <= 10""".stripMargin), scale = true),
    QuerySpec("q_compression_ratio", (s, d) => TextAnalysis.compressionRatio(s, d), None, scale = true),
    // lexical diversity per source: (source, token) counts then rollup
    QuerySpec("q_lexical_diversity", (s, d) => TextAnalysis.lexicalDiversity(s, d), Some(
      """WITH toks AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |tc AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_types,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS ttr,
        |  ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_frac
        |FROM tc GROUP BY source""".stripMargin), scale = true),
    // Gopher rule outcomes: exact counting, one rounded ratio per rule
    // scale reason, shared with q_source_overlap, q_audio_features:
    // gopher rules are a pure codegen'd scan (linear at worst); the
    // source-overlap pair join is bounded by the shared-shingle front
    // (distinct (shingle, source) rows — replicas decorrelate shingles,
    // so the front grows far slower than the corpus); audio features
    // are executor-local per-row codec work
    QuerySpec("q_gopher_rules", (s, d) => TextAnalysis.gopherRules(s, d), Some(
      """WITH d AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    CASE WHEN len(toks) > 0 THEN
        |      CAST(strlen(text) - (len(toks) - 1) AS DOUBLE) / len(toks) END
        |      AS mean_len,
        |    CASE WHEN len(toks) > 0 THEN
        |      CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
        |        AS DOUBLE) / len(toks) END AS alpha_frac,
        |    CASE WHEN len(toks) > 0 THEN
        |      1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END
        |      AS dup_ratio
        |  FROM d)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |  ROUND(mean_len, 6) AS mean_word_len,
        |  ROUND(alpha_frac, 6) AS alpha_word_frac,
        |  ROUND(dup_ratio, 6) AS dup_token_ratio,
        |  (n_tokens >= 5 AND n_tokens <= 100000) AS word_count_ok,
        |  (mean_len >= 3.0 AND mean_len <= 10.0) AS mean_len_ok,
        |  (alpha_frac >= 0.8) AS alpha_ok,
        |  (dup_ratio < 0.5) AS dup_ok,
        |  ((n_tokens >= 5 AND n_tokens <= 100000)
        |    AND (mean_len >= 3.0 AND mean_len <= 10.0)
        |    AND (alpha_frac >= 0.8) AND (dup_ratio < 0.5)) AS passes
        |FROM m""".stripMargin), scale = true),
    // word-n-gram repetition: exact gram counting, two rounded ratios,
    // deterministic top-bigram tie-break (lexicographic min at max count)
    // scale: n-gram repetition shuffles distinct (doc, gram) rows — ≤ token
    // count, corpus-linear with map-side combine
    QuerySpec("q_ngram_repetition", (s, d) => TextAnalysis.ngramRepetition(s, d), Some(
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |bi AS (SELECT doc_id,
        |    t[CAST(i AS INTEGER)] || ' ' || t[CAST(i AS INTEGER) + 1] AS gram
        |  FROM (SELECT doc_id, t, unnest(range(1, LEN(t))) AS i
        |        FROM d WHERE LEN(t) >= 2)),
        |bic AS (SELECT doc_id, gram, COUNT(*) AS c FROM bi GROUP BY 1, 2),
        |bmx AS (SELECT doc_id, gram, c,
        |    MAX(c) OVER (PARTITION BY doc_id) AS mxw FROM bic),
        |bagg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |    MAX(c) AS mx, MIN(CASE WHEN c = mxw THEN gram END) AS top_bigram
        |  FROM bmx GROUP BY 1),
        |tri AS (SELECT doc_id, t[CAST(i AS INTEGER)] || ' ' ||
        |    t[CAST(i AS INTEGER) + 1] || ' ' || t[CAST(i AS INTEGER) + 2] AS gram
        |  FROM (SELECT doc_id, t, unnest(range(1, LEN(t) - 1)) AS i
        |        FROM d WHERE LEN(t) >= 3)),
        |tric AS (SELECT doc_id, gram, COUNT(*) AS c FROM tri GROUP BY 1, 2),
        |tagg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_trigrams,
        |    CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_occ
        |  FROM tric GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(n_bigrams, 0) AS n_bigrams, top_bigram,
        |  ROUND(CASE WHEN n_bigrams > 0
        |    THEN CAST(mx AS DOUBLE) / CAST(n_bigrams AS DOUBLE) END, 6)
        |    AS top_bigram_frac,
        |  COALESCE(n_trigrams, 0) AS n_trigrams,
        |  ROUND(CASE WHEN n_trigrams > 0
        |    THEN CAST(dup_occ AS DOUBLE) / CAST(n_trigrams AS DOUBLE) END, 6)
        |    AS dup_trigram_frac
        |FROM d LEFT JOIN bagg USING (doc_id) LEFT JOIN tagg USING (doc_id)""".stripMargin), scale = true),
    // source-pair shingle overlap: pairs explode within a shingle's
    // source set only, never doc x doc; shingles keyed by the first 60
    // bits of their md5 (same function both engines — collision-identical)
    QuerySpec("q_source_overlap", (s, d) => TextAnalysis.sourceOverlap(s, d), Some(
      """WITH d AS (SELECT source, text FROM documents WHERE strlen(text) >= 15),
        |sh AS (
        |  SELECT DISTINCT source, CAST(('0x' || substr(md5(
        |      substring(text, CAST(i AS INTEGER), 15)), 1, 15)) AS BIGINT) AS sh
        |  FROM (SELECT source, text,
        |    unnest(range(1, strlen(text) - 14 + 1)) AS i FROM d)),
        |sizes AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared_shingles
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, shared_shingles, sa.n_sh AS n_a, sb.n_sh AS n_b,
        |  ROUND(CAST(shared_shingles AS DOUBLE)
        |    / (sa.n_sh + sb.n_sh - shared_shingles), 6) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.source = src_a
        |JOIN sizes sb ON sb.source = src_b""".stripMargin), scale = true),
    // matryoshka truncation eval: both rankings replayed with the
    // q_knn_brute dot/tie conventions, overlap by set membership
    // bnlj: the q_knn_brute broadcast query-set × corpus shape, twice-scored
    QuerySpec("q_matryoshka_eval", (s, d) => Similarity.matryoshkaEval(s, d), Some(
      """WITH e AS (
        |  SELECT vec_id, embedding, embedding[1:16] AS emb_t,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm,
        |    sqrt(list_sum(list_transform(embedding[1:16],
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm_t
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb, emb_t AS q_emb_t,
        |    norm AS q_norm, norm_t AS q_norm_t FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, e.vec_id,
        |    list_sum(list_transform(e.embedding,
        |      (v, i) -> CAST(v AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
        |      / (e.norm * q.q_norm) AS cos_full,
        |    list_sum(list_transform(e.emb_t,
        |      (v, i) -> CAST(v AS DOUBLE) * CAST(q.q_emb_t[i] AS DOUBLE)))
        |      / (e.norm_t * q.q_norm_t) AS cos_trunc
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
        |tf AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY cos_full DESC, vec_id ASC) AS r FROM scored) WHERE r <= 10),
        |tt AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY cos_trunc DESC, vec_id ASC) AS r FROM scored) WHERE r <= 10)
        |SELECT tf.q_id, CAST(10 AS INTEGER) AS k,
        |  CAST(SUM(CASE WHEN tt.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_overlap,
        |  ROUND(CAST(SUM(CASE WHEN tt.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / 10, 6) AS overlap_frac
        |FROM tf LEFT JOIN tt ON tf.q_id = tt.q_id AND tf.vec_id = tt.vec_id
        |GROUP BY tf.q_id""".stripMargin), scale = true, bnlj = true),
    // PCA: bit-exact replay of the decimal-bridged sufficient stats +
    // trace-normalized-squaring eigensolve (generated, see pcaOracleSql)
    // scale: PCA is one sufficient-stats scan + one broadcast projection pass
    QuerySpec("q_pca_project", (s, d) => Similarity.pcaProject(s, d),
      Some(pcaOracleSql()), scale = true),
    QuerySpec("q_holt_backtest", (s, d) => Stats.holtBacktest(s, d), Some(holtCoreSql() +
      """,
        |b AS (
        |  SELECT event_type, hr, n,
        |    LAG(level + trend) OVER (PARTITION BY event_type ORDER BY hr) AS f_prev
        |  FROM r)
        |SELECT event_type, COUNT(*) AS n_points,
        |  round(CAST(SUM(CAST(round(ABS(CAST(n AS DOUBLE) - f_prev)
        |    / CAST(n AS DOUBLE), 9) AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 6) AS mape
        |FROM b WHERE f_prev IS NOT NULL GROUP BY 1""".stripMargin), scale = true),
    // Theil's U2: bit-exact Holt forecasts vs naive last-value, round-9
    // decimal squared-error sums, guarded skill ratio
    // scale reason, shared with q_image_neardups:
    // seventh wave: the image near-dup join pays one decode scan plus
    // band-bucket collisions (the simhash contract on media);
    // theil_u rides the calendar-bounded Holt core
    QuerySpec("q_theil_u", (s, d) => Stats.theilU(s, d), Some(holtCoreSql() +
      """,
        |b AS (
        |  SELECT event_type, hr, n,
        |    LAG(level + trend) OVER w AS f_prev,
        |    LAG(n) OVER w AS n_prev
        |  FROM r WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
        |t AS (SELECT event_type,
        |    CAST(ROUND((CAST(n AS DOUBLE) - f_prev)
        |      * (CAST(n AS DOUBLE) - f_prev), 9) AS DECIMAL(38,9)) AS e2,
        |    CAST(ROUND((CAST(n AS DOUBLE) - CAST(n_prev AS DOUBLE))
        |      * (CAST(n AS DOUBLE) - CAST(n_prev AS DOUBLE)), 9)
        |      AS DECIMAL(38,9)) AS d2
        |  FROM b WHERE f_prev IS NOT NULL),
        |a AS (SELECT event_type, COUNT(*) AS n_points,
        |    SUM(e2) AS se2, SUM(d2) AS sd2 FROM t GROUP BY 1)
        |SELECT event_type, n_points,
        |  ROUND(sqrt(CAST(se2 AS DOUBLE) / CAST(n_points AS DOUBLE)), 6)
        |    AS rmse_model,
        |  ROUND(sqrt(CAST(sd2 AS DOUBLE) / CAST(n_points AS DOUBLE)), 6)
        |    AS rmse_naive,
        |  ROUND(CASE WHEN CAST(sd2 AS DOUBLE) > 0 THEN
        |    sqrt(CAST(se2 AS DOUBLE)) / sqrt(CAST(sd2 AS DOUBLE)) END, 6)
        |    AS theil_u2
        |FROM a""".stripMargin), scale = true),
    // split conformal: bit-exact Holt residuals, integer-arithmetic
    // conformal rank, coverage on the held-out half
    QuerySpec("q_conformal", (s, d) => Stats.conformalCoverage(s, d), Some(holtCoreSql() +
      """,
        |b AS (SELECT event_type, hr, n,
        |    LAG(level + trend) OVER (PARTITION BY event_type ORDER BY hr) AS f
        |  FROM r),
        |res AS (SELECT event_type, hr, ABS(CAST(n AS DOUBLE) - f) AS e,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS rr
        |  FROM b WHERE f IS NOT NULL),
        |mm AS (SELECT event_type, COUNT(*) AS m FROM res GROUP BY 1),
        |sp AS (SELECT res.*, rr <= m // 2 AS is_cal
        |  FROM res JOIN mm USING (event_type)),
        |cal AS (SELECT event_type, hr, e,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY e, hr) AS q_rank
        |  FROM sp WHERE is_cal),
        |nc AS (SELECT event_type, COUNT(*) AS n_cal FROM cal GROUP BY 1),
        |qh AS (SELECT cal.event_type, n_cal, e AS q_hat
        |  FROM cal JOIN nc USING (event_type)
        |  WHERE q_rank = LEAST((9 * (n_cal + 1) + 9) // 10, n_cal)),
        |t AS (SELECT sp.event_type, n_cal, q_hat, COUNT(*) AS n_test,
        |    SUM(CASE WHEN e <= q_hat THEN 1 ELSE 0 END) AS n_covered
        |  FROM sp JOIN qh ON qh.event_type = sp.event_type
        |  WHERE NOT is_cal GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(n_cal AS BIGINT) AS n_cal,
        |  CAST(n_test AS BIGINT) AS n_test,
        |  ROUND(q_hat, 6) AS q_hat,
        |  ROUND(CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE), 6) AS coverage
        |FROM t""".stripMargin)),
    // seasonal strength: hour-of-day ANOVA on the integer hourly axis
    QuerySpec("q_seasonal_strength", (s, d) => Stats.seasonalStrength(s, d), Some(
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    COUNT(*) AS n FROM events GROUP BY 1, 2),
        |sl AS (SELECT event_type, hr % 24 AS slot, COUNT(*) AS c,
        |    CAST(SUM(n) AS BIGINT) AS s, CAST(SUM(n * n) AS BIGINT) AS ss
        |  FROM h GROUP BY 1, 2),
        |pk AS (SELECT event_type, CAST(slot AS INTEGER) AS peak_slot,
        |    ROUND(CAST(s AS DOUBLE) / CAST(c AS DOUBLE), 6) AS peak_mean
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY CAST(s AS DOUBLE) / CAST(c AS DOUBLE) DESC, slot ASC) AS rk
        |    FROM sl) WHERE rk = 1),
        |a AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS h,
        |    CAST(SUM(s) AS BIGINT) AS st, CAST(SUM(ss) AS BIGINT) AS sst,
        |    SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(c AS DOUBLE), 9) AS DECIMAL(38,9))) AS g2n
        |  FROM sl GROUP BY 1),
        |e AS (SELECT event_type, h,
        |    CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
        |      / CAST(h AS DOUBLE) AS sst_c,
        |    CAST(sst AS DOUBLE) - CAST(g2n AS DOUBLE) AS ssw
        |  FROM a)
        |SELECT e.event_type, h AS n_hours,
        |  ROUND(CASE WHEN sst_c > 0
        |    THEN GREATEST(1.0 - ssw / sst_c, 0.0) END, 6) AS seasonal_strength,
        |  peak_slot, peak_mean
        |FROM e JOIN pk ON pk.event_type = e.event_type""".stripMargin)),
    // Ljung-Box: bit-exact residuals, round-9 DECIMAL lag-product
    // sums, closed-form even-df chi2 survival
    QuerySpec("q_ljung_box", (s, d) => Stats.ljungBox(s, d), Some(holtCoreSql() +
      """,
        |b AS (SELECT event_type, hr, n,
        |    LAG(level + trend) OVER (PARTITION BY event_type ORDER BY hr) AS f
        |  FROM r),
        |res AS (SELECT event_type, hr, CAST(n AS DOUBLE) - f AS e
        |  FROM b WHERE f IS NOT NULL),
        |mm AS (SELECT event_type,
        |    CAST(SUM(CAST(ROUND(e, 9) AS DECIMAL(38,9))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS ebar
        |  FROM res GROUP BY 1),
        |dd AS (SELECT res.event_type, hr, e - ebar AS d
        |  FROM res JOIN mm USING (event_type)),
        |lg AS (SELECT event_type, hr, d,
        |    LAG(d, 1) OVER w AS d1, LAG(d, 2) OVER w AS d2,
        |    LAG(d, 3) OVER w AS d3, LAG(d, 4) OVER w AS d4,
        |    LAG(d, 5) OVER w AS d5, LAG(d, 6) OVER w AS d6
        |  FROM dd WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
        |a AS (SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(ROUND(d * d, 9) AS DECIMAL(38,9))) AS den,
        |    SUM(CASE WHEN d1 IS NOT NULL THEN CAST(ROUND(d * d1, 9)
        |      AS DECIMAL(38,9)) ELSE CAST(0 AS DECIMAL(38,9)) END) AS num1,
        |    SUM(CASE WHEN d2 IS NOT NULL THEN CAST(ROUND(d * d2, 9)
        |      AS DECIMAL(38,9)) ELSE CAST(0 AS DECIMAL(38,9)) END) AS num2,
        |    SUM(CASE WHEN d3 IS NOT NULL THEN CAST(ROUND(d * d3, 9)
        |      AS DECIMAL(38,9)) ELSE CAST(0 AS DECIMAL(38,9)) END) AS num3,
        |    SUM(CASE WHEN d4 IS NOT NULL THEN CAST(ROUND(d * d4, 9)
        |      AS DECIMAL(38,9)) ELSE CAST(0 AS DECIMAL(38,9)) END) AS num4,
        |    SUM(CASE WHEN d5 IS NOT NULL THEN CAST(ROUND(d * d5, 9)
        |      AS DECIMAL(38,9)) ELSE CAST(0 AS DECIMAL(38,9)) END) AS num5,
        |    SUM(CASE WHEN d6 IS NOT NULL THEN CAST(ROUND(d * d6, 9)
        |      AS DECIMAL(38,9)) ELSE CAST(0 AS DECIMAL(38,9)) END) AS num6
        |  FROM lg GROUP BY 1),
        |e2 AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(den AS DOUBLE) AS dend,
        |    CAST(num1 AS DOUBLE) AS n1, CAST(num2 AS DOUBLE) AS n2,
        |    CAST(num3 AS DOUBLE) AS n3, CAST(num4 AS DOUBLE) AS n4,
        |    CAST(num5 AS DOUBLE) AS n5, CAST(num6 AS DOUBLE) AS n6
        |  FROM a WHERE n > 6),
        |q AS (SELECT event_type, n, n1 / dend AS rho1,
        |    (n1 / dend * (n1 / dend) / (nd - 1.0)
        |      + n2 / dend * (n2 / dend) / (nd - 2.0)
        |      + n3 / dend * (n3 / dend) / (nd - 3.0)
        |      + n4 / dend * (n4 / dend) / (nd - 4.0)
        |      + n5 / dend * (n5 / dend) / (nd - 5.0)
        |      + n6 / dend * (n6 / dend) / (nd - 6.0)) * nd * (nd + 2.0) AS q
        |  FROM e2)
        |SELECT event_type, CAST(n AS BIGINT) AS n_resid,
        |  ROUND(rho1, 6) AS rho1, ROUND(q, 6) AS q_stat,
        |  ROUND(exp(-(q / 2.0)) * (1.0 + q / 2.0
        |    + (q / 2.0) * (q / 2.0) / 2.0), 6) AS p_value
        |FROM q""".stripMargin)),
    // Holt backtest: LAG of the bit-exact forecasts, per-point APE,
    // round-9→decimal-sum→round-6 MAPE — fully mirrored
    // Holt-Winters: recursive CTE carrying the 24-slot seasonal list
    QuerySpec("q_holt_winters", (s, d) => Stats.holtWinters(s, d),
      Some(holtWintersSql()), scale = true),
    // Durbin-Watson: exact-integer OLS normal equations on the rebased
    // hour axis, fixed-order double fit, round-9 decimal quadratic sums
    // scale reason, shared with q_icc, q_friedman, q_cronbach, q_decision_stump,
    // q_assortativity, q_item_cosine, q_hits:
    // round-12 second-session batch: durbin/icc/friedman/cronbach/
    // decision_stump are one-or-two-scan sufficient-statistic verbs;
    // assortativity adds two |edges|-row degree joins over the distinct
    // incidence; item_cosine is the assoc_rules pair-join class (the
    // superlinear-risk one to watch); hits is a scan plus 16 fixed
    // |types|-sized half-steps
    QuerySpec("q_durbin_watson", (s, d) => Stats.durbinWatson(s, d), Some(
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |base AS (SELECT event_type, MIN(hr) AS hr0 FROM hourly GROUP BY 1),
        |xy AS (SELECT h.event_type, hr, hr - hr0 AS x, n AS y
        |  FROM hourly h JOIN base b ON h.event_type = b.event_type),
        |fit AS (SELECT event_type, COUNT(*) AS cnt,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM xy GROUP BY 1),
        |f2 AS (SELECT *,
        |    CAST(cnt AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den FROM fit),
        |f3 AS (SELECT *, CASE WHEN den > 0 THEN
        |    (CAST(cnt AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / den END AS b FROM f2),
        |f4 AS (SELECT event_type, cnt, b,
        |    (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))
        |      / CAST(cnt AS DOUBLE) AS a FROM f3),
        |res AS (SELECT xy.event_type, hr, cnt,
        |    CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE)) AS e
        |  FROM xy JOIN f4 ON xy.event_type = f4.event_type),
        |lg AS (SELECT event_type, cnt, e,
        |    LAG(e) OVER (PARTITION BY event_type ORDER BY hr) AS ep FROM res),
        |ag AS (SELECT event_type, MAX(cnt) AS n_hours,
        |    SUM(CAST(ROUND(e * e, 9) AS DECIMAL(38,9))) AS se2,
        |    SUM(CASE WHEN ep IS NOT NULL THEN
        |      CAST(ROUND((e - ep) * (e - ep), 9) AS DECIMAL(38,9)) END) AS sd2
        |  FROM lg GROUP BY 1)
        |SELECT event_type, n_hours,
        |  ROUND(CASE WHEN CAST(se2 AS DOUBLE) > 0
        |    THEN CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE) END, 6) AS dw
        |FROM ag""".stripMargin), scale = true),
    // PACF: ljung-box's decimal-bridged lag products for rho1..5, the
    // Durbin-Levinson recursion unrolled expression-for-expression
    // scale reason, shared with q_fisher_exact, q_hurst, q_mood_median,
    // q_bartlett, q_runs_test, q_fertility, q_stream_topk:
    // fifth wave: fisher's F table + t-range are corpus-linear; hurst/
    // pacf/runs ride the calendar-bounded hourly axis; mood pays one
    // histogram + one classification scan; fertility is the token
    // explode (data-dominated); stream_topk replays the corpus through
    // O(k) per-type state
    QuerySpec("q_pacf", (s, d) => Stats.pacf(s, d), Some(
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, COUNT(*) AS cnt, CAST(SUM(n) AS BIGINT) AS s
        |  FROM hourly GROUP BY 1),
        |m2 AS (SELECT event_type, cnt,
        |    CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) AS nbar FROM m),
        |d AS (SELECT h.event_type, hr, cnt, CAST(n AS DOUBLE) - nbar AS d
        |  FROM hourly h JOIN m2 ON h.event_type = m2.event_type),
        |lg AS (SELECT event_type, cnt, hr, d,
        |    LAG(d, 1) OVER w AS d1, LAG(d, 2) OVER w AS d2,
        |    LAG(d, 3) OVER w AS d3, LAG(d, 4) OVER w AS d4,
        |    LAG(d, 5) OVER w AS d5
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
        |a AS (SELECT event_type, cnt,
        |    SUM(CAST(ROUND(d * d, 9) AS DECIMAL(38,9))) AS den,
        |    SUM(CASE WHEN d1 IS NOT NULL THEN CAST(ROUND(d * d1, 9)
        |      AS DECIMAL(38,9)) ELSE CAST(0 AS DECIMAL(38,9)) END) AS num1,
        |    SUM(CASE WHEN d2 IS NOT NULL THEN CAST(ROUND(d * d2, 9)
        |      AS DECIMAL(38,9)) ELSE CAST(0 AS DECIMAL(38,9)) END) AS num2,
        |    SUM(CASE WHEN d3 IS NOT NULL THEN CAST(ROUND(d * d3, 9)
        |      AS DECIMAL(38,9)) ELSE CAST(0 AS DECIMAL(38,9)) END) AS num3,
        |    SUM(CASE WHEN d4 IS NOT NULL THEN CAST(ROUND(d * d4, 9)
        |      AS DECIMAL(38,9)) ELSE CAST(0 AS DECIMAL(38,9)) END) AS num4,
        |    SUM(CASE WHEN d5 IS NOT NULL THEN CAST(ROUND(d * d5, 9)
        |      AS DECIMAL(38,9)) ELSE CAST(0 AS DECIMAL(38,9)) END) AS num5
        |  FROM lg GROUP BY 1, 2),
        |r AS (SELECT event_type, cnt,
        |    CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1,
        |    CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2,
        |    CAST(num3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3,
        |    CAST(num4 AS DOUBLE) / CAST(den AS DOUBLE) AS r4,
        |    CAST(num5 AS DOUBLE) / CAST(den AS DOUBLE) AS r5
        |  FROM a WHERE cnt > 5 AND CAST(den AS DOUBLE) > 0),
        |dl1 AS (SELECT *, r1 AS p11 FROM r),
        |dl2 AS (SELECT *, 1.0 - p11 * r1 AS q2 FROM dl1),
        |dl3 AS (SELECT *, CASE WHEN q2 <> 0.0 THEN (r2 - p11 * r1) / q2 END
        |  AS p22 FROM dl2),
        |dl4 AS (SELECT *, p11 - p22 * p11 AS p21 FROM dl3),
        |dl5 AS (SELECT *, 1.0 - (p21 * r1 + p22 * r2) AS q3 FROM dl4),
        |dl6 AS (SELECT *, CASE WHEN q3 <> 0.0 THEN
        |    (r3 - (p21 * r2 + p22 * r1)) / q3 END AS p33 FROM dl5),
        |dl7 AS (SELECT *, p21 - p33 * p22 AS p31, p22 - p33 * p21 AS p32
        |  FROM dl6),
        |dl8 AS (SELECT *, 1.0 - (p31 * r1 + p32 * r2 + p33 * r3) AS q4 FROM dl7),
        |dl9 AS (SELECT *, CASE WHEN q4 <> 0.0 THEN
        |    (r4 - (p31 * r3 + p32 * r2 + p33 * r1)) / q4 END AS p44 FROM dl8),
        |dl10 AS (SELECT *, p31 - p44 * p33 AS p41, p32 - p44 * p32 AS p42,
        |    p33 - p44 * p31 AS p43 FROM dl9),
        |dl11 AS (SELECT *, 1.0 - (p41 * r1 + p42 * r2 + p43 * r3 + p44 * r4)
        |  AS q5 FROM dl10),
        |dl12 AS (SELECT *, CASE WHEN q5 <> 0.0 THEN
        |    (r5 - (p41 * r4 + p42 * r3 + p43 * r2 + p44 * r1)) / q5 END AS p55
        |  FROM dl11)
        |SELECT event_type, cnt AS n_hours, lag, pacf FROM (
        |  SELECT event_type, cnt, 1 AS lag, ROUND(p11, 6) AS pacf FROM dl12
        |  UNION ALL SELECT event_type, cnt, 2, ROUND(p22, 6) FROM dl12
        |  UNION ALL SELECT event_type, cnt, 3, ROUND(p33, 6) FROM dl12
        |  UNION ALL SELECT event_type, cnt, 4, ROUND(p44, 6) FROM dl12
        |  UNION ALL SELECT event_type, cnt, 5, ROUND(p55, 6) FROM dl12) u""".stripMargin), scale = true),
    // Fisher exact: decimal ln-factorial prefix table, chain-of-decimal
    // lnP, relative-tolerance extreme set, round-15 decimal mass sum
    // bnlj: 1-row margins/lnC/obs terms against the t-range
    QuerySpec("q_fisher_exact", (s, d) => Stats.fisherExact(s, d), Some(
      """WITH idx AS (SELECT ROW_NUMBER() OVER () AS i FROM documents),
        |f AS MATERIALIZED (SELECT i,
        |    SUM(CAST(ROUND(ln(CAST(i AS DOUBLE)), 9) AS DECIMAL(38,9)))
        |      OVER (ORDER BY i) AS lf
        |  FROM idx),
        |m AS (SELECT COUNT(*) AS nn,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS kk,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN lang = 'en' AND source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS aa
        |  FROM documents),
        |m2 AS (SELECT *, GREATEST(0, kk + n1 - nn) AS tmin,
        |    LEAST(kk, n1) AS tmax FROM m),
        |pos AS (SELECT SUM(COALESCE(lf, CAST(0 AS DECIMAL(38,9)))) AS pos9
        |  FROM (SELECT unnest([kk, nn - kk, n1, nn - n1]) AS i FROM m2) x
        |  LEFT JOIN f USING (i)),
        |neg AS (SELECT lf AS neg9 FROM f JOIN m2 ON f.i = m2.nn),
        |ob AS (SELECT SUM(COALESCE(lf, CAST(0 AS DECIMAL(38,9)))) AS obs9
        |  FROM (SELECT unnest([aa, kk - aa, n1 - aa, nn - kk - n1 + aa]) AS i
        |    FROM m2) x
        |  LEFT JOIN f USING (i)),
        |ts AS (SELECT i AS t FROM f CROSS JOIN m2
        |    WHERE i >= tmin AND i <= tmax
        |  UNION ALL SELECT 0 FROM m2 WHERE tmin = 0),
        |ta AS (SELECT t, unnest([t, kk - t, n1 - t, nn - kk - n1 + t]) AS i
        |  FROM ts CROSS JOIN m2),
        |ld AS (SELECT t, SUM(COALESCE(lf, CAST(0 AS DECIMAL(38,9)))) AS lden9
        |  FROM ta LEFT JOIN f USING (i) GROUP BY t),
        |pt AS (SELECT t,
        |    exp(CAST((pos9 - neg9) - lden9 AS DOUBLE)) AS p,
        |    exp(CAST((pos9 - neg9) - obs9 AS DOUBLE)) AS p_obs
        |  FROM ld CROSS JOIN pos CROSS JOIN neg CROSS JOIN ob),
        |ps AS (SELECT SUM(CASE WHEN p <= p_obs * 1.0000001 THEN
        |    CAST(ROUND(p, 15) AS DECIMAL(38,15)) END) AS p2,
        |    COUNT(*) AS n_terms FROM pt)
        |SELECT nn AS n_docs, kk AS n_en, n1 AS n_src0, aa AS a_obs,
        |  ROUND(CASE WHEN (kk - aa) * (n1 - aa) > 0 THEN
        |    CAST(aa AS DOUBLE) * CAST(nn - kk - n1 + aa AS DOUBLE)
        |    / (CAST(kk - aa AS DOUBLE) * CAST(n1 - aa AS DOUBLE)) END, 6)
        |    AS odds_ratio,
        |  n_terms,
        |  ROUND(LEAST(CAST(p2 AS DOUBLE), 1.0), 6) AS p_two_sided
        |FROM m2 CROSS JOIN ps""".stripMargin), scale = true, bnlj = true),
    // Bartlett: exact integer-cents sufficient stats, round-9 decimal
    // ln-variance terms, closed-form df=4 survival
    QuerySpec("q_bartlett", (s, d) => Stats.bartlett(s, d), Some(
      """WITH g AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c * c) AS BIGINT) AS ss
        |  FROM (SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
        |    FROM events WHERE value IS NOT NULL) x
        |  GROUP BY 1 HAVING COUNT(*) > 1),
        |t AS (SELECT n,
        |    CAST(ROUND(1.0 / (CAST(n AS DOUBLE) - 1.0), 9) AS DECIMAL(38,9)) AS inv9,
        |    CAST(ROUND((CAST(n AS DOUBLE) - 1.0) *
        |      ln((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |        / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)), 9)
        |      AS DECIMAL(38,9)) AS nls9,
        |    CAST(ROUND(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE), 9) AS DECIMAL(38,9)) AS w9
        |  FROM g),
        |a AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS nt,
        |    SUM(inv9) AS sinv, SUM(nls9) AS snls, SUM(w9) AS ssw FROM t),
        |e AS (SELECT k, nt,
        |    CASE WHEN k > 1 AND nt > k THEN
        |      ((CAST(nt AS DOUBLE) - CAST(k AS DOUBLE)) *
        |        ln(CAST(ssw AS DOUBLE) / (CAST(nt AS DOUBLE) - CAST(k AS DOUBLE)))
        |        - CAST(snls AS DOUBLE))
        |      / (1.0 + (CAST(sinv AS DOUBLE)
        |          - 1.0 / (CAST(nt AS DOUBLE) - CAST(k AS DOUBLE)))
        |        / (3.0 * (CAST(k AS DOUBLE) - 1.0))) END AS chi2
        |  FROM a)
        |SELECT CAST(k AS INTEGER) AS k_groups, nt AS n_total,
        |  ROUND(chi2, 6) AS bartlett_chi2,
        |  ROUND(CASE WHEN k = 5 AND chi2 >= 0 THEN
        |    exp(chi2 / -2.0) * (1.0 + chi2 / 2.0) END, 6) AS p_value
        |FROM e""".stripMargin), scale = true),
    // Hurst R/S: exact BIGINT cumulative deviations (cumsum - t*mean),
    // round-9 decimal ln(R/S) means, decimal-bridged 4-point OLS
    QuerySpec("q_hurst", (s, d) => Stats.hurstExponent(s, d), Some(
      """WITH hourly AS (SELECT event_type,
        |    epoch_us(ts) // 3600000000 AS hr, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |cnts AS (SELECT event_type, COUNT(*) AS cnt FROM hourly GROUP BY 1),
        |ranked AS (SELECT h.event_type, hr, n, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY h.event_type ORDER BY hr) AS r
        |  FROM hourly h JOIN cnts c ON h.event_type = c.event_type),
        |sc AS (SELECT event_type, hr, n, cnt, r, unnest([16, 32, 64, 128]) AS w
        |  FROM ranked),
        |sw AS (SELECT *, (r - 1) // w AS wid FROM sc
        |  WHERE ((r - 1) // w + 1) * w <= cnt),
        |dev AS (SELECT event_type, w, wid,
        |    SUM(n) OVER (PARTITION BY event_type, w, wid ORDER BY r) AS cs,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, w, wid ORDER BY r) AS tloc,
        |    SUM(n) OVER (PARTITION BY event_type, w, wid) AS tot,
        |    SUM(n * n) OVER (PARTITION BY event_type, w, wid) AS tot2
        |  FROM sw),
        |cd AS (SELECT *, CAST(cs AS DOUBLE)
        |    - CAST(tloc AS DOUBLE) * (CAST(tot AS DOUBLE) / CAST(w AS DOUBLE))
        |    AS cumdev FROM dev),
        |rsw AS (SELECT event_type, w, wid,
        |    MAX(cumdev) - MIN(cumdev) AS rr,
        |    MAX(tot) AS s1, MAX(tot2) AS s2
        |  FROM cd GROUP BY 1, 2, 3),
        |rs2 AS (SELECT event_type, w,
        |    CAST(ROUND(ln(rr / sqrt(svar)), 9) AS DECIMAL(38,9)) AS lnrs9
        |  FROM (SELECT *, CAST(s2 AS DOUBLE) / CAST(w AS DOUBLE)
        |      - (CAST(s1 AS DOUBLE) / CAST(w AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(w AS DOUBLE)) AS svar
        |    FROM rsw) x
        |  WHERE svar > 0 AND rr > 0),
        |ps AS (SELECT event_type, ln(CAST(w AS DOUBLE)) AS x,
        |    CAST(SUM(lnrs9) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS y,
        |    COUNT(*) AS nw
        |  FROM rs2 GROUP BY event_type, w),
        |t AS (SELECT event_type, nw,
        |    CAST(ROUND(x, 9) AS DECIMAL(38,9)) AS x9,
        |    CAST(ROUND(y, 9) AS DECIMAL(38,9)) AS y9,
        |    CAST(ROUND(x * y, 9) AS DECIMAL(38,9)) AS xy9,
        |    CAST(ROUND(x * x, 9) AS DECIMAL(38,9)) AS xx9
        |  FROM ps),
        |a AS (SELECT event_type, COUNT(*) AS m, CAST(SUM(nw) AS BIGINT) AS n_windows,
        |    SUM(x9) AS sx, SUM(y9) AS sy, SUM(xy9) AS sxy, SUM(xx9) AS sxx
        |  FROM t GROUP BY 1)
        |SELECT event_type, CAST(m AS INTEGER) AS n_scales, n_windows,
        |  ROUND(CASE WHEN CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
        |    (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END, 6) AS hurst
        |FROM a WHERE m >= 2""".stripMargin), scale = true),
    // Kruskal-Wallis: doubled midranks from the global cents histogram,
    // HUGEINT/DECIMAL(38,0) rank sums, decimal-bridged H terms + ties
    // scale reason, shared with q_jarque_bera, q_grubbs, q_welch_anova:
    // sixth wave: kruskal pays a value-domain histogram + a (group,
    // value) aggregate; jarque/grubbs are scan-dominated moment verbs
    // bnlj: 1-row tie-correction total against the k terms
    QuerySpec("q_kruskal_wallis", (s, d) => Stats.kruskalWallis(s, d), Some(
      """WITH ev AS (SELECT event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |hist AS (SELECT c, COUNT(*) AS f FROM ev GROUP BY 1),
        |ranks AS (SELECT c, f, COALESCE(SUM(f) OVER (ORDER BY c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM hist),
        |r2 AS (SELECT c, 2 * below + f + 1 AS r2v, f FROM ranks),
        |grp AS (SELECT event_type, CAST(SUM(fg) AS BIGINT) AS n,
        |    SUM(CAST(fg AS HUGEINT) * CAST(r2v AS HUGEINT)) AS rr2
        |  FROM (SELECT event_type, c, COUNT(*) AS fg FROM ev GROUP BY 1, 2) g
        |  JOIN r2 USING (c) GROUP BY 1),
        |t AS (SELECT n, CAST(ROUND((CAST(rr2 AS DOUBLE) / 2.0)
        |    * (CAST(rr2 AS DOUBLE) / 2.0) / CAST(n AS DOUBLE), 9)
        |    AS DECIMAL(38,9)) AS t9 FROM grp),
        |ties AS (SELECT SUM(CAST(ROUND(CAST(f AS DOUBLE) * CAST(f AS DOUBLE)
        |    * CAST(f AS DOUBLE) - CAST(f AS DOUBLE), 9) AS DECIMAL(38,9)))
        |    AS ties9 FROM r2),
        |a AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS nt,
        |    SUM(t9) AS st9 FROM t),
        |e AS (SELECT k, nt,
        |    CASE WHEN nt > 1 THEN 12.0 / (CAST(nt AS DOUBLE)
        |      * (CAST(nt AS DOUBLE) + 1.0)) * CAST(st9 AS DOUBLE)
        |      - 3.0 * (CAST(nt AS DOUBLE) + 1.0) END AS h_raw,
        |    1.0 - CAST(ties9 AS DOUBLE) / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)
        |      * CAST(nt AS DOUBLE) - CAST(nt AS DOUBLE)) AS corr
        |  FROM a CROSS JOIN ties)
        |SELECT CAST(k AS INTEGER) AS k_groups, nt AS n_total,
        |  ROUND(h_raw, 6) AS h_stat,
        |  ROUND(CASE WHEN corr > 0 THEN h_raw / corr END, 6) AS h_tied,
        |  ROUND(CASE WHEN k = 5 AND corr > 0 AND h_raw / corr >= 0 THEN
        |    exp(h_raw / corr / -2.0) * (1.0 + h_raw / corr / 2.0) END, 6)
        |    AS p_value
        |FROM e""".stripMargin), scale = true, bnlj = true),
    // Welch ANOVA: same exact sufficient stats as q_anova; weighted
    // k-row sums round-9 decimal-bridged; statistic + W-S df2 only
    // bnlj: 1-row weighted-total row against the k group rows
    QuerySpec("q_welch_anova", (s, d) => Stats.welchAnova(s, d), Some(
      """WITH g AS (SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(12,2))) AS s,
        |    SUM(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))
        |        AS DECIMAL(38,4))) AS ss
        |  FROM events WHERE value IS NOT NULL GROUP BY 1 HAVING COUNT(*) > 1),
        |w AS (SELECT *,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS v
        |  FROM g),
        |w2 AS (SELECT *, CAST(n AS DOUBLE) / v AS wi FROM w WHERE v > 0),
        |t AS (SELECT n, m, wi,
        |    CAST(ROUND(wi, 9) AS DECIMAL(38,9)) AS w9,
        |    CAST(ROUND(wi * m, 9) AS DECIMAL(38,9)) AS wm9 FROM w2),
        |tot AS (SELECT COUNT(*) AS k, SUM(w9) AS sw, SUM(wm9) AS swm FROM t),
        |wb AS (SELECT k, sw,
        |    CAST(ROUND(wi * (m - CAST(swm AS DOUBLE) / CAST(sw AS DOUBLE))
        |      * (m - CAST(swm AS DOUBLE) / CAST(sw AS DOUBLE)), 9)
        |      AS DECIMAL(38,9)) AS num9,
        |    CAST(ROUND((1.0 - wi / CAST(sw AS DOUBLE))
        |      * (1.0 - wi / CAST(sw AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0), 9)
        |      AS DECIMAL(38,9)) AS lam9
        |  FROM w2 CROSS JOIN tot),
        |a AS (SELECT k, SUM(num9) AS snum, SUM(lam9) AS slam FROM wb GROUP BY 1)
        |SELECT CAST(k AS INTEGER) AS k_groups,
        |  ROUND((CAST(snum AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))
        |    / (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0)
        |      / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
        |      * CAST(slam AS DOUBLE)), 6) AS welch_f,
        |  CAST(k - 1 AS INTEGER) AS df1,
        |  ROUND(CASE WHEN CAST(slam AS DOUBLE) > 0 THEN
        |    (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
        |    / (3.0 * CAST(slam AS DOUBLE)) END, 6) AS df2
        |FROM a WHERE k > 1""".stripMargin), scale = true, bnlj = true),
    // Jarque-Bera: four exact moment sums (cubes/quartics as
    // DECIMAL(38,0)), fixed-order central-moment expansion, e^{-JB/2}
    QuerySpec("q_jarque_bera", (s, d) => Stats.jarqueBera(s, d), Some(
      """WITH g AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c * c) AS BIGINT) AS s2,
        |    SUM(CAST(c * c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(10,0))) AS s3,
        |    SUM(CAST(c * c AS DECIMAL(19,0)) * CAST(c * c AS DECIMAL(19,0))) AS s4
        |  FROM (SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
        |    FROM events WHERE value IS NOT NULL) x
        |  GROUP BY 1 HAVING COUNT(*) > 3),
        |e AS (SELECT event_type, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4 FROM g),
        |m AS (SELECT event_type, n,
        |    r2 - mu * mu AS m2,
        |    r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
        |    r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
        |      - 3.0 * mu * mu * mu * mu AS m4
        |  FROM e),
        |j AS (SELECT event_type, n, m2,
        |    m3 / sqrt(m2 * m2 * m2) AS skew,
        |    m4 / (m2 * m2) - 3.0 AS kurt FROM m WHERE m2 > 0),
        |f AS (SELECT event_type, n, m2, skew, kurt,
        |    CAST(n AS DOUBLE) / 6.0 * (skew * skew + kurt * kurt / 4.0) AS jb
        |  FROM j)
        |SELECT event_type, n,
        |  ROUND(skew, 6) AS skewness,
        |  ROUND(kurt, 6) AS excess_kurtosis,
        |  ROUND(jb, 6) AS jb_stat,
        |  ROUND(CASE WHEN jb >= 0 THEN exp(jb / -2.0) END, 6) AS p_value
        |FROM f""".stripMargin), scale = true),
    // Grubbs: exact integer stats, one deviation pass, argmax named by
    // lowest event id
    QuerySpec("q_grubbs", (s, d) => Stats.grubbs(s, d), Some(
      """WITH ev AS (SELECT event_type, event_id,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |st AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS s,
        |    CAST(SUM(c * c) AS BIGINT) AS ss
        |  FROM ev GROUP BY 1 HAVING COUNT(*) > 2),
        |s2 AS (SELECT *, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) AS sd FROM st),
        |dev AS (SELECT e.event_type, event_id, c, n, sd,
        |    ABS(CAST(c AS DOUBLE) - mean) AS d
        |  FROM ev e JOIN s2 ON e.event_type = s2.event_type),
        |mx AS (SELECT event_type, MAX(d) AS dmax FROM dev GROUP BY 1)
        |SELECT dev.event_type, n,
        |  ROUND(CASE WHEN sd > 0 THEN dmax / sd END, 6) AS g_stat,
        |  MIN(event_id) AS outlier_event_id,
        |  arg_min(c, event_id) AS outlier_cents
        |FROM dev JOIN mx ON dev.event_type = mx.event_type AND dev.d = mx.dmax
        |GROUP BY dev.event_type, n, sd, dmax""".stripMargin), scale = true),
    // Exact Poisson rate-ratio test: conditional-binomial outcome axis
    // replayed on the decimal ln-factorial prefix table (row_number
    // over events supplies the 1..n axis — n = purchase count ≤ |events|)
    // bnlj: 1-row margins + 1-row observed mass against the outcome axis
    QuerySpec("q_exact_rate", (s, d) => Stats.exactRateTest(s, d), Some(
      """WITH m AS (SELECT
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 AND event_type = 'purchase'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS cb,
        |    COUNT(DISTINCT CASE WHEN user_id % 2 = 0 THEN user_id END) AS ta,
        |    COUNT(DISTINCT CASE WHEN user_id % 2 <> 0 THEN user_id END) AS tb
        |  FROM events),
        |mm AS (SELECT *, ca + cb AS n FROM m),
        |ax AS (SELECT CAST(ROW_NUMBER() OVER () AS BIGINT) AS i FROM events
        |  QUALIFY i <= (SELECT n FROM mm)),
        |f AS (SELECT i,
        |    SUM(CAST(ROUND(ln(CAST(i AS DOUBLE)), 9) AS DECIMAL(38,9))) OVER
        |      (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS lf
        |  FROM ax),
        |xs AS (SELECT i AS x FROM ax UNION ALL SELECT CAST(0 AS BIGINT)),
        |wf AS (SELECT xs.x, mm.ca, mm.cb, mm.ta, mm.tb, mm.n,
        |    CAST((fn.lf - COALESCE(fx.lf, 0)) - COALESCE(fnx.lf, 0) AS DOUBLE)
        |      AS lnc,
        |    CAST(mm.ta AS DOUBLE) / (CAST(mm.ta AS DOUBLE)
        |      + CAST(mm.tb AS DOUBLE)) AS p0
        |  FROM xs CROSS JOIN mm
        |  LEFT JOIN f fx ON fx.i = xs.x
        |  LEFT JOIN f fnx ON fnx.i = mm.n - xs.x
        |  JOIN f fn ON fn.i = mm.n
        |  WHERE xs.x <= mm.n),
        |sc AS (SELECT *,
        |    exp(CASE WHEN p0 > 0 AND p0 < 1 THEN
        |      lnc + CAST(x AS DOUBLE) * ln(p0)
        |          + (CAST(n AS DOUBLE) - CAST(x AS DOUBLE)) * ln(1.0 - p0)
        |      END) AS p
        |  FROM wf),
        |obs AS (SELECT p AS p_obs FROM sc WHERE x = ca),
        |ps AS (SELECT SUM(CASE WHEN sc.p <= obs.p_obs * 1.0000001
        |      THEN CAST(ROUND(sc.p, 15) AS DECIMAL(38,15)) END) AS p2,
        |    COUNT(*) AS n_outcomes
        |  FROM sc CROSS JOIN obs)
        |SELECT mm.ca AS events_a, mm.cb AS events_b,
        |  mm.ta AS users_a, mm.tb AS users_b,
        |  ROUND(CASE WHEN mm.cb > 0 AND mm.ta > 0 AND mm.tb > 0 THEN
        |    (CAST(mm.ca AS DOUBLE) / CAST(mm.ta AS DOUBLE))
        |    / (CAST(mm.cb AS DOUBLE) / CAST(mm.tb AS DOUBLE)) END, 6)
        |    AS rate_ratio,
        |  ps.n_outcomes,
        |  CASE WHEN ps.p2 IS NOT NULL THEN
        |    ROUND(LEAST(CAST(ps.p2 AS DOUBLE), 1.0), 6) END AS p_two_sided
        |FROM mm CROSS JOIN ps""".stripMargin), scale = true, bnlj = true),
    // Mood's median: grand lower median from the cents histogram, k x 2
    // exact cells, round-9 decimal (O-E)^2/E terms
    // bnlj: 1-row grand median + margins against the k cells
    QuerySpec("q_mood_median", (s, d) => Stats.moodMedian(s, d), Some(
      """WITH ev AS (SELECT event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |hist AS (SELECT c, COUNT(*) AS f FROM ev GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM ev),
        |med AS (SELECT MIN(c) AS med FROM (
        |  SELECT c, SUM(f) OVER (ORDER BY c) AS cum FROM hist) h CROSS JOIN tot
        |  WHERE cum >= (n + 1) // 2),
        |cells AS (SELECT event_type, COUNT(*) AS ni,
        |    CAST(SUM(CASE WHEN c > med THEN 1 ELSE 0 END) AS BIGINT) AS ai
        |  FROM ev CROSS JOIN med GROUP BY 1),
        |marg AS (SELECT CAST(SUM(ni) AS BIGINT) AS nt,
        |    CAST(SUM(ai) AS BIGINT) AS at, COUNT(*) AS k FROM cells),
        |t AS (SELECT k, nt, CAST(ROUND(
        |    CASE WHEN CAST(ni AS DOUBLE) * CAST(at AS DOUBLE) / CAST(nt AS DOUBLE) > 0
        |      THEN (CAST(ai AS DOUBLE) - CAST(ni AS DOUBLE) * CAST(at AS DOUBLE)
        |          / CAST(nt AS DOUBLE))
        |        * (CAST(ai AS DOUBLE) - CAST(ni AS DOUBLE) * CAST(at AS DOUBLE)
        |          / CAST(nt AS DOUBLE))
        |        / (CAST(ni AS DOUBLE) * CAST(at AS DOUBLE) / CAST(nt AS DOUBLE))
        |      ELSE 0.0 END
        |    + CASE WHEN CAST(ni AS DOUBLE) * (CAST(nt AS DOUBLE) - CAST(at AS DOUBLE))
        |        / CAST(nt AS DOUBLE) > 0
        |      THEN (CAST(ni - ai AS DOUBLE) - CAST(ni AS DOUBLE)
        |          * (CAST(nt AS DOUBLE) - CAST(at AS DOUBLE)) / CAST(nt AS DOUBLE))
        |        * (CAST(ni - ai AS DOUBLE) - CAST(ni AS DOUBLE)
        |          * (CAST(nt AS DOUBLE) - CAST(at AS DOUBLE)) / CAST(nt AS DOUBLE))
        |        / (CAST(ni AS DOUBLE) * (CAST(nt AS DOUBLE) - CAST(at AS DOUBLE))
        |          / CAST(nt AS DOUBLE))
        |      ELSE 0.0 END, 9) AS DECIMAL(38,9)) AS t9
        |  FROM cells CROSS JOIN marg)
        |SELECT CAST(k AS INTEGER) AS k_groups, nt AS n_total,
        |  ROUND(CAST(SUM(t9) AS DOUBLE), 6) AS mood_chi2,
        |  ROUND(CASE WHEN k = 5 AND CAST(SUM(t9) AS DOUBLE) >= 0 THEN
        |    exp(CAST(SUM(t9) AS DOUBLE) / -2.0)
        |      * (1.0 + CAST(SUM(t9) AS DOUBLE) / 2.0) END, 6) AS p_value
        |FROM t GROUP BY k, nt""".stripMargin), scale = true, bnlj = true),
    // runs test: per-type hourly median drop-ties signs, lag-window run
    // count, exact-integer run moments
    // may be empty: q_runs_test drops values EQUAL to the per-type median
    // (the standard treatment) — at sf0.001 the sparse hourly series is
    // almost all 1s, every sign ties out, and an empty result is the
    // CORRECT answer (the oracle agrees: 0 == 0 rows)
    QuerySpec("q_runs_test", (s, d) => Stats.runsTest(s, d), Some(
      """WITH hourly AS (SELECT event_type,
        |    epoch_us(ts) // 3600000000 AS hr, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |hist AS (SELECT event_type, n, COUNT(*) AS f FROM hourly GROUP BY 1, 2),
        |tot AS (SELECT event_type, COUNT(*) AS cnt FROM hourly GROUP BY 1),
        |med AS (SELECT h.event_type, MIN(n) AS med FROM (
        |    SELECT event_type, n, SUM(f) OVER (PARTITION BY event_type
        |      ORDER BY n) AS cum FROM hist) h
        |  JOIN tot ON h.event_type = tot.event_type
        |  WHERE cum >= (cnt + 1) // 2 GROUP BY 1),
        |signs AS (SELECT h.event_type, hr, h.n > med AS hi
        |  FROM hourly h JOIN med ON h.event_type = med.event_type
        |  WHERE h.n <> med),
        |lg AS (SELECT event_type, hi,
        |    LAG(hi) OVER (PARTITION BY event_type ORDER BY hr) AS prev
        |  FROM signs),
        |a AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN NOT hi THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN prev IS NULL OR prev <> hi THEN 1 ELSE 0 END)
        |      AS BIGINT) AS runs
        |  FROM lg GROUP BY 1 HAVING SUM(CASE WHEN hi THEN 1 ELSE 0 END) > 0
        |    AND SUM(CASE WHEN NOT hi THEN 1 ELSE 0 END) > 0)
        |SELECT event_type, n1, n2, runs,
        |  ROUND(CASE WHEN 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |      * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |        - (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
        |      / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
        |        * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
        |        * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)) > 0 THEN
        |    (CAST(runs AS DOUBLE)
        |      - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |        / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))
        |    / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |      * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |        - (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
        |      / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
        |        * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
        |        * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0))) END, 6) AS z
        |FROM a""".stripMargin), scale = true, mayBeEmpty = true),
    // fertility: exact integer char/byte/token sums, mirrored ratios
    QuerySpec("q_fertility", (s, d) => TextAnalysis.tokenizerFertility(s, d), Some(
      """WITH d AS (SELECT lang,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS nt,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(strlen(text) AS BIGINT) AS nb
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(SUM(nc) AS DOUBLE) / CAST(SUM(nt) AS DOUBLE), 6)
        |    AS chars_per_token,
        |  ROUND(CAST(SUM(nb) AS DOUBLE) / CAST(SUM(nt) AS DOUBLE), 6)
        |    AS bytes_per_token,
        |  ROUND(CAST(SUM(nt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS tokens_per_doc
        |FROM d GROUP BY lang""".stripMargin), scale = true),
    // mutual information: one contingency aggregate; cell/marginal ln
    // terms round-9 decimal-bridged; grid-sized transcendental cost
    // bnlj: 1-row N + three 1-row entropy/MI sums against the grid
    QuerySpec("q_mutual_info", (s, d) => Stats.mutualInfo(s, d), Some(
      """WITH grid AS (SELECT lang, source, COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |lx AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS cx FROM grid GROUP BY 1),
        |sy AS (SELECT source, CAST(SUM(c) AS BIGINT) AS cy FROM grid GROUP BY 1),
        |nr AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_cells FROM grid),
        |mi AS (SELECT SUM(CAST(ROUND(
        |      (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
        |        / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 9)
        |      AS DECIMAL(38,9))) AS mi9
        |  FROM grid JOIN lx USING (lang) JOIN sy USING (source) CROSS JOIN nr),
        |hx AS (SELECT SUM(CAST(ROUND(
        |      (CAST(cx AS DOUBLE) / CAST(n AS DOUBLE)) * (-1.0) *
        |      ln(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE)), 9)
        |      AS DECIMAL(38,9))) AS hx9
        |  FROM lx CROSS JOIN (SELECT n FROM nr) q),
        |hy AS (SELECT SUM(CAST(ROUND(
        |      (CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)) * (-1.0) *
        |      ln(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)), 9)
        |      AS DECIMAL(38,9))) AS hy9
        |  FROM sy CROSS JOIN (SELECT n FROM nr) q)
        |SELECT n, n_cells,
        |  ROUND(CAST(mi9 AS DOUBLE), 6) AS mi_nats,
        |  ROUND(CAST(hx9 AS DOUBLE), 6) AS h_lang,
        |  ROUND(CAST(hy9 AS DOUBLE), 6) AS h_source,
        |  ROUND(CASE WHEN CAST(hx9 AS DOUBLE) > 0 AND CAST(hy9 AS DOUBLE) > 0
        |    THEN CAST(mi9 AS DOUBLE)
        |      / (sqrt(CAST(hx9 AS DOUBLE)) * sqrt(CAST(hy9 AS DOUBLE))) END, 6)
        |    AS nmi
        |FROM nr CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy""".stripMargin), bnlj = true),
    // WoE/IV: integer 4-hour day-slot buckets, exact good/bad integers,
    // guarded ln, 6 decimal-bridged IV terms
    // bnlj: 1-row good/bad totals + 1-row IV against the 6 slot rows
    QuerySpec("q_woe_iv", (s, d) => Stats.woeIv(s, d), Some(
      """WITH ev AS (SELECT
        |    (epoch_us(ts) // 3600000000) % 24 // 4 AS slot,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS good
        |  FROM events),
        |bk AS (SELECT slot, COUNT(*) AS n, CAST(SUM(good) AS BIGINT) AS goods
        |  FROM ev GROUP BY 1),
        |b2 AS (SELECT slot, n, goods, n - goods AS bads FROM bk),
        |t AS (SELECT CAST(SUM(goods) AS BIGINT) AS gt,
        |    CAST(SUM(bads) AS BIGINT) AS bt FROM b2),
        |w AS (SELECT slot, n, goods, bads, gt, bt,
        |    CASE WHEN goods > 0 AND bads > 0 AND gt > 0 AND bt > 0 THEN
        |      ln((CAST(goods AS DOUBLE) / CAST(gt AS DOUBLE))
        |        / (CAST(bads AS DOUBLE) / CAST(bt AS DOUBLE))) END AS woe_raw
        |  FROM b2 CROSS JOIN t),
        |w2 AS (SELECT *, CASE WHEN woe_raw IS NOT NULL THEN CAST(ROUND(
        |    (CAST(goods AS DOUBLE) / CAST(gt AS DOUBLE)
        |      - CAST(bads AS DOUBLE) / CAST(bt AS DOUBLE)) * woe_raw, 9)
        |    AS DECIMAL(38,9)) END AS iv_term FROM w),
        |iv AS (SELECT SUM(iv_term) AS iv9 FROM w2)
        |SELECT slot, n AS n_events, goods, bads,
        |  ROUND(woe_raw, 6) AS woe,
        |  ROUND(CAST(iv9 AS DOUBLE), 6) AS iv_total
        |FROM w2 CROSS JOIN iv""".stripMargin), bnlj = true),
    // Friedman: complete blocks only, doubled midranks stay BIGINT,
    // k-term rank-square sum decimal-bridged, closed-form df=4 survival
    // bnlj: 1-row treatment count against the per-(user,type) cells
    QuerySpec("q_friedman", (s, d) => Stats.friedmanTest(s, d), Some(
      """WITH cell AS (SELECT user_id, event_type, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(12,2))) AS s
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |c2 AS (SELECT *, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m FROM cell),
        |k AS (SELECT COUNT(DISTINCT event_type) AS k FROM c2),
        |c3 AS (SELECT *, COUNT(*) OVER (PARTITION BY user_id) AS nt FROM c2),
        |comp AS (SELECT c3.*, k FROM c3 CROSS JOIN k WHERE nt = k),
        |rk AS (SELECT *,
        |    2 * RANK() OVER (PARTITION BY user_id ORDER BY m)
        |      + COUNT(*) OVER (PARTITION BY user_id, m) - 1 AS r2 FROM comp),
        |cs AS (SELECT event_type, CAST(SUM(r2) AS BIGINT) AS sr2,
        |    COUNT(*) AS b, MAX(k) AS k FROM rk GROUP BY 1),
        |ag AS (SELECT b, k, SUM(CAST(ROUND(
        |    (CAST(sr2 AS DOUBLE) / 2.0) * (CAST(sr2 AS DOUBLE) / 2.0), 9)
        |    AS DECIMAL(38,9))) AS srj2 FROM cs GROUP BY 1, 2),
        |ch AS (SELECT b, k, CASE WHEN b > 0 THEN
        |    12.0 / (CAST(b AS DOUBLE) * CAST(k AS DOUBLE)
        |      * (CAST(k AS DOUBLE) + 1.0)) * CAST(srj2 AS DOUBLE)
        |    - 3.0 * CAST(b AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0) END AS chi2
        |  FROM ag)
        |SELECT b AS n_blocks, CAST(k AS INTEGER) AS k_treatments,
        |  ROUND(chi2, 6) AS chi2,
        |  ROUND(CASE WHEN k = 5 AND chi2 >= 0 THEN
        |    exp(chi2 / -2.0) * (1.0 + chi2 / 2.0) END, 6) AS p_value
        |FROM ch""".stripMargin), scale = true, bnlj = true),
    // ICC(1): users as groups; per-group terms decimal-bridged; the
    // unbalanced n0 correction from an exact BIGINT sum of n^2
    QuerySpec("q_icc", (s, d) => Stats.iccOneWay(s, d), Some(
      """WITH g AS (SELECT user_id, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(12,2))) AS s,
        |    SUM(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))
        |        AS DECIMAL(38,4))) AS ss
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |t AS (SELECT n, s, n * n AS n2,
        |    CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 9)
        |      AS DECIMAL(38,9)) AS g2n,
        |    CAST(ROUND(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE), 9) AS DECIMAL(38,9)) AS w
        |  FROM g),
        |a AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS nt,
        |    CAST(SUM(n2) AS BIGINT) AS sn2, SUM(s) AS s_all,
        |    SUM(g2n) AS sum_g2n, SUM(w) AS ssw9 FROM t),
        |e AS (SELECT k, nt,
        |    (CAST(sum_g2n AS DOUBLE) - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
        |      / CAST(nt AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0) AS msb,
        |    CAST(ssw9 AS DOUBLE) / (CAST(nt AS DOUBLE) - CAST(k AS DOUBLE)) AS msw,
        |    (CAST(nt AS DOUBLE) - CAST(sn2 AS DOUBLE) / CAST(nt AS DOUBLE))
        |      / (CAST(k AS DOUBLE) - 1.0) AS n0
        |  FROM a)
        |SELECT k AS k_users, nt AS n_obs,
        |  ROUND(msb, 6) AS ms_between, ROUND(msw, 6) AS ms_within,
        |  ROUND(n0, 6) AS n0,
        |  ROUND(CASE WHEN k > 1 AND nt > k AND msb + (n0 - 1.0) * msw > 0
        |    THEN (msb - msw) / (msb + (n0 - 1.0) * msw) END, 6) AS icc1
        |FROM e""".stripMargin), scale = true),
    // Cronbach alpha: 10 decimal sums in one pass; variances fixed-order
    // doubles; 4-term item-variance total adds left-to-right
    QuerySpec("q_cronbach", (s, d) => Stats.cronbachAlpha(s, d), Some(
      """WITH li AS (SELECT
        |    CAST(l_quantity AS DECIMAL(12,2)) AS i0,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS i1,
        |    CAST(l_discount AS DECIMAL(12,2)) AS i2,
        |    CAST(l_tax AS DECIMAL(12,2)) AS i3,
        |    CAST(CAST(l_quantity AS DECIMAL(12,2)) + CAST(l_extendedprice AS DECIMAL(12,2))
        |      + CAST(l_discount AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2))
        |      AS DECIMAL(16,2)) AS t
        |  FROM lineitem),
        |a AS (SELECT COUNT(*) AS n,
        |    SUM(i0) AS s0, SUM(CAST(i0 * i0 AS DECIMAL(38,4))) AS ss0,
        |    SUM(i1) AS s1, SUM(CAST(i1 * i1 AS DECIMAL(38,4))) AS ss1,
        |    SUM(i2) AS s2, SUM(CAST(i2 * i2 AS DECIMAL(38,4))) AS ss2,
        |    SUM(i3) AS s3, SUM(CAST(i3 * i3 AS DECIMAL(38,4))) AS ss3,
        |    SUM(t) AS st, SUM(CAST(t * t AS DECIMAL(38,4))) AS sst
        |  FROM li),
        |v AS (SELECT n,
        |    (CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
        |    + (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
        |    + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
        |    + (CAST(ss3 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vsum,
        |    (CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vtot
        |  FROM a)
        |SELECT n AS n_rows, 4 AS k_items,
        |  ROUND(vsum, 6) AS sum_item_var,
        |  ROUND(vtot, 6) AS total_var,
        |  ROUND(CASE WHEN vtot > 0 THEN (4.0 / 3.0) * (1.0 - vsum / vtot) END, 6)
        |    AS alpha
        |FROM v""".stripMargin), scale = true),
    // decision stump: one Expand scan, exact cell integers, round-9
    // decimal conditional-entropy terms, argmax on the ROUNDED gain
    QuerySpec("q_decision_stump", (s, d) => Stats.decisionStump(s, d), Some(
      """WITH base AS (SELECT event_type,
        |    CAST((epoch_us(ts) // 3600000000) % 24 // 4 AS VARCHAR) AS slot,
        |    CAST(user_id % 2 AS VARCHAR) AS parity,
        |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL),
        |lng AS (
        |  SELECT 'event_type' AS feature, event_type AS v, y FROM base
        |  UNION ALL SELECT 'day_slot', slot, y FROM base
        |  UNION ALL SELECT 'user_parity', parity, y FROM base),
        |cells AS (SELECT feature, v, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS g
        |  FROM lng GROUP BY 1, 2),
        |c2 AS (SELECT *, n - g AS b FROM cells),
        |tot AS (SELECT feature, CAST(SUM(n) AS BIGINT) AS nt,
        |    CAST(SUM(g) AS BIGINT) AS gt, COUNT(*) AS n_values
        |  FROM c2 GROUP BY 1),
        |terms AS (SELECT c2.feature, CAST(ROUND(
        |    (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)) * (
        |      CASE WHEN g > 0 THEN (CAST(g AS DOUBLE) / CAST(n AS DOUBLE)) * (-1.0)
        |        * ln(CAST(g AS DOUBLE) / CAST(n AS DOUBLE)) ELSE 0.0 END
        |      + CASE WHEN b > 0 THEN (CAST(b AS DOUBLE) / CAST(n AS DOUBLE)) * (-1.0)
        |        * ln(CAST(b AS DOUBLE) / CAST(n AS DOUBLE)) ELSE 0.0 END), 9)
        |    AS DECIMAL(38,9)) AS t9
        |  FROM c2 JOIN tot USING (feature)),
        |hc AS (SELECT feature, SUM(t9) AS hc9 FROM terms GROUP BY 1),
        |h0 AS (SELECT feature, n_values, nt,
        |    CASE WHEN gt > 0 THEN (CAST(gt AS DOUBLE) / CAST(nt AS DOUBLE)) * (-1.0)
        |      * ln(CAST(gt AS DOUBLE) / CAST(nt AS DOUBLE)) ELSE 0.0 END
        |    + CASE WHEN nt - gt > 0 THEN
        |      (CAST(nt - gt AS DOUBLE) / CAST(nt AS DOUBLE)) * (-1.0)
        |      * ln(CAST(nt - gt AS DOUBLE) / CAST(nt AS DOUBLE)) ELSE 0.0 END AS h_base
        |  FROM tot),
        |g2 AS (SELECT h0.feature, n_values, nt AS n_rows,
        |    ROUND(h_base, 6) AS h_base, ROUND(CAST(hc9 AS DOUBLE), 6) AS h_cond,
        |    ROUND(h_base - CAST(hc9 AS DOUBLE), 6) AS info_gain
        |  FROM h0 JOIN hc ON h0.feature = hc.feature)
        |SELECT feature, n_values, n_rows, h_base, h_cond, info_gain,
        |  ROW_NUMBER() OVER (ORDER BY info_gain DESC, feature ASC) = 1 AS is_best
        |FROM g2""".stripMargin), scale = true),
    // feature hashing: per-token md5 dim/sign arithmetic, one (doc,dim)
    // aggregate — the vocabulary-free vectorizer
    QuerySpec("q_feature_hashing", (s, d) => TextAnalysis.featureHashing(s, d), Some(
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents WHERE doc_id < 200),
        |hx AS (SELECT doc_id, md5(tok) AS h FROM toks),
        |f AS (SELECT doc_id,
        |    CAST(CAST('0x' || substr(h, 1, 8) AS BIGINT) % 64 AS INTEGER) AS dim,
        |    CASE WHEN CAST('0x' || substr(h, 9, 1) AS BIGINT) % 2 = 0
        |      THEN 1 ELSE -1 END AS sign
        |  FROM hx)
        |SELECT doc_id, dim, CAST(SUM(sign) AS BIGINT) AS weight,
        |  COUNT(*) AS n_terms
        |FROM f GROUP BY 1, 2""".stripMargin)),
    QuerySpec("q_pagerank", (s, d) => Analytics.pagerankEventTypes(s, d), Some {
      // the same 20 power iterations the Spark loop runs, unrolled as
      // CTEs (recursive terms can't aggregate); arithmetic mirrored
      // with explicit DOUBLE casts so both engines compound identically
      val iters = (1 to 20).map { i =>
        s"""r$i AS (SELECT o.node,
           |  CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) + 0.85 * COALESCE(fl.s, 0) AS rank
           |  FROM nodes o LEFT JOIN (
           |    SELECT e.dst AS node, SUM(p.rank * e.w) AS s
           |    FROM e JOIN r${i - 1} p ON e.src = p.node GROUP BY e.dst) fl
           |  ON o.node = fl.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH s AS (SELECT event_type AS cur_type,
         |             LAG(event_type) OVER (
         |               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
         |           FROM events),
         |c AS (SELECT prev_type, cur_type, COUNT(*) AS n
         |      FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         |e AS (SELECT prev_type AS src, cur_type AS dst,
         |        round(n / SUM(n) OVER (PARTITION BY prev_type), 4) AS w FROM c),
         |nodes AS (SELECT DISTINCT node FROM
         |            (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |r0 AS (SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes),
         |$iters
         |SELECT node, round(rank, 4) AS rank FROM r20""".stripMargin
    }, scale = true),
    QuerySpec("q_hits", (s, d) => Analytics.hitsEventTypes(s, d), Some {
      // 8 HITS iterations unrolled; every half-step is BIT-exact on both
      // engines: round-9 products summed as DECIMAL(38,9), decimal L1
      // total, round-9 normalized score (no drift to contain — unlike
      // pagerank's round-4 mitigation)
      val iters = (1 to 8).map { i =>
        val prev = if (i == 1) "h0" else s"h${i - 1}"
        s"""ar$i AS MATERIALIZED (SELECT e.dst AS gnode,
           |    SUM(CAST(ROUND(p.s * CAST(e.n AS DOUBLE), 9) AS DECIMAL(38,9))) AS r9
           |  FROM e JOIN $prev p ON e.src = p.node GROUP BY 1),
           |at$i AS MATERIALIZED (SELECT SUM(r9) AS t FROM ar$i),
           |a$i AS MATERIALIZED (SELECT o.node, ROUND(COALESCE(CAST(r9 AS DOUBLE), 0.0)
           |    / CAST(t AS DOUBLE), 9) AS s
           |  FROM nodes o LEFT JOIN ar$i ON o.node = ar$i.gnode CROSS JOIN at$i),
           |hr$i AS MATERIALIZED (SELECT e.src AS gnode,
           |    SUM(CAST(ROUND(p.s * CAST(e.n AS DOUBLE), 9) AS DECIMAL(38,9))) AS r9
           |  FROM e JOIN a$i p ON e.dst = p.node GROUP BY 1),
           |ht$i AS MATERIALIZED (SELECT SUM(r9) AS t FROM hr$i),
           |h$i AS MATERIALIZED (SELECT o.node, ROUND(COALESCE(CAST(r9 AS DOUBLE), 0.0)
           |    / CAST(t AS DOUBLE), 9) AS s
           |  FROM nodes o LEFT JOIN hr$i ON o.node = hr$i.gnode CROSS JOIN ht$i)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH s AS (SELECT event_type AS dst,
         |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM events),
         |e AS MATERIALIZED (SELECT src, dst, COUNT(*) AS n FROM s
         |  WHERE src IS NOT NULL GROUP BY 1, 2),
         |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |h0 AS (SELECT node, CAST(1 AS DOUBLE) AS s FROM nodes),
         |$iters
         |SELECT h8.node, ROUND(h8.s, 6) AS hub, ROUND(a8.s, 6) AS authority
         |FROM h8 JOIN a8 ON h8.node = a8.node""".stripMargin
    }, scale = true),
    // degree assortativity: exact BIGINT degree sums over the DISTINCT
    // incidence relation; Pearson from six integer moments
    QuerySpec("q_assortativity", (s, d) => Analytics.degreeAssortativity(s, d), Some(
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |dx AS (SELECT ok, COUNT(*) AS x FROM li GROUP BY 1),
        |dy AS (SELECT pk, COUNT(*) AS y FROM li GROUP BY 1),
        |a AS (SELECT COUNT(*) AS cnt,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM li JOIN dx USING (ok) JOIN dy USING (pk)),
        |v AS (SELECT *,
        |    CAST(cnt AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |    CAST(cnt AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
        |  FROM a)
        |SELECT cnt AS n_edges,
        |  ROUND(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE), 6) AS mean_basket_width,
        |  ROUND(CAST(sy AS DOUBLE) / CAST(cnt AS DOUBLE), 6) AS mean_part_popularity,
        |  ROUND(CASE WHEN vx > 0 AND vy > 0 THEN
        |    (CAST(cnt AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (sqrt(vx) * sqrt(vy)) END, 6) AS assortativity
        |FROM v""".stripMargin), scale = true),
    // item-item cosine/jaccard: same pruned pair join as q_assoc_rules,
    // similarities one double expression over three exact integers
    QuerySpec("q_item_cosine", (s, d) => Analytics.itemCosine(s, d), Some(
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |it AS (SELECT pk, COUNT(*) AS n_item FROM li GROUP BY 1
        |  HAVING COUNT(*) >= 3),
        |f AS (SELECT li.ok, li.pk, n_item FROM li JOIN it USING (pk)),
        |p AS (SELECT x.pk AS a, y.pk AS b, x.n_item AS n_a, y.n_item AS n_b,
        |    COUNT(*) AS n_ab
        |  FROM f x JOIN f y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 3)
        |SELECT a, b, n_a, n_b, n_ab,
        |  ROUND(CAST(n_ab AS DOUBLE)
        |    / (sqrt(CAST(n_a AS DOUBLE)) * sqrt(CAST(n_b AS DOUBLE))), 6) AS cosine,
        |  ROUND(CAST(n_ab AS DOUBLE) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
        |    - CAST(n_ab AS DOUBLE)), 6) AS jaccard
        |FROM p""".stripMargin), scale = true),
    // the same sweep-line on the same micro-epoch integers (DuckDB's
    // parquet reader keeps µs for TIMESTAMP(NANOS)) — the running-max/
    // cumulative-open-count island construction is dialect-portable
    // window SQL, so the merge structure matches exactly
    QuerySpec("q_interval_union", (s, d) => Analytics.intervalUnion(s, d), Some(
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 900000000 AS e
        |  FROM events),
        |m AS (
        |  SELECT user_id, s, e,
        |    CASE WHEN MAX(e) OVER prevw IS NULL OR s > MAX(e) OVER prevw
        |      THEN 1 ELSE 0 END AS open
        |  FROM iv
        |  WINDOW prevw AS (PARTITION BY user_id ORDER BY s
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |i AS (
        |  SELECT user_id, s, e,
        |    SUM(open) OVER (PARTITION BY user_id ORDER BY s
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m),
        |g AS (
        |  SELECT user_id, island, MIN(s) AS i_s, MAX(e) AS i_e
        |  FROM i GROUP BY user_id, island)
        |SELECT user_id, COUNT(*) AS n_intervals,
        |  CAST(SUM(i_e - i_s) AS DOUBLE) / 1000000 AS covered_seconds
        |FROM g GROUP BY user_id""".stripMargin)),
    // interval×interval overlap: the oracle brute-forces the per-user
    // non-equi join; the engine's time-grid cell join + overlap-start
    // dedup must reproduce exactly these pairs (integer micros)
    QuerySpec("q_interval_join", (s, d) => Analytics.intervalOverlapJoin(s, d), Some(
      """WITH iv AS (
        |  SELECT event_type, user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + (event_id % 240 + 60) * 1000000 AS e
        |  FROM events WHERE event_type IN ('view', 'click'))
        |SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id,
        |  LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS overlap_us
        |FROM iv a JOIN iv b ON a.user_id = b.user_id
        |WHERE a.event_type = 'view' AND b.event_type = 'click'
        |  AND a.s <= b.e AND b.s <= a.e""".stripMargin), scale = true),
    // canonical a<b<c enumeration — id-ordered, so each triangle appears
    // exactly once; the Spark side's degree-ordered orientation must
    // reach the identical per-node counts
    QuerySpec("q_triangles", (s, d) => Analytics.triangleCounts(s, d), Some(
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM li l1 JOIN li l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM pairs e1 JOIN pairs e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b),
        |nodes AS (SELECT x AS part FROM tri
        |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |SELECT part, COUNT(*) AS n_triangles FROM nodes GROUP BY part""".stripMargin), scale = true),
    // Apriori pruning on both sides (items filtered before the pair
    // join) — metric arithmetic mirrored integer→double division
    // scale reason, shared with q_spearman, q_ohlc, q_rolling_autocorr,
    // q_rolling_autocorr_dist, q_cogroup:
    // statistics tier (this session): spearman's rank histograms grow
    // with |distinct values| (price ≈ rows, so the two-phase prefix sum
    // is the measured path); ohlc is one O(1)-state aggregate over the
    // scan; rolling_autocorr is a per-type window with decimal frame
    // sums; cogroup co-partitions two growing inputs; assoc_rules'
    // pair join grows with Σ basket² over the replicated orders — the
    // superlinear-risk one worth watching (Apriori pruning is the cap)
    // bnlj: the 1-row order count
    QuerySpec("q_assoc_rules", (s, d) => Analytics.associationRules(s, d), Some(
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem),
        |items AS (SELECT pk, COUNT(*) AS n_item FROM li GROUP BY pk HAVING COUNT(*) >= 3),
        |pairs AS (
        |  SELECT x.pk AS a, y.pk AS b, ix.n_item AS n_a, iy.n_item AS n_b,
        |    COUNT(*) AS n_ab
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        |  JOIN items ix ON ix.pk = x.pk JOIN items iy ON iy.pk = y.pk
        |  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 3)
        |SELECT a, b, n_a, n_b, n_ab,
        |  round(CAST(n_ab AS DOUBLE) / n_a, 6) AS conf_a_b,
        |  round(CAST(n_ab AS DOUBLE) / n_b, 6) AS conf_b_a,
        |  round(CAST(n_ab AS DOUBLE) * n.n_orders / (CAST(n_a AS DOUBLE) * n_b), 6) AS lift
        |FROM pairs CROSS JOIN n""".stripMargin), scale = true, bnlj = true),
    // typed cogroup == two grouped aggregates full-outer joined; the
    // ROUND(x*100) cents idiom matches the q_stream_tws oracle
    QuerySpec("q_cogroup", Analytics.cogroupCustomerActivity(_, _), Some(
      """WITH o AS (SELECT o_custkey AS key_id, COUNT(*) AS n_orders,
        |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS oc
        |  FROM orders GROUP BY 1),
        |e AS (SELECT user_id AS key_id, COUNT(*) AS n_events,
        |    SUM(CAST(ROUND(value * 100) AS BIGINT)) AS ec
        |  FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT COALESCE(o.key_id, e.key_id) AS key_id,
        |  COALESCE(n_orders, 0) AS n_orders,
        |  CAST(COALESCE(oc, 0) AS DOUBLE) / 100 AS order_total,
        |  COALESCE(n_events, 0) AS n_events,
        |  CAST(COALESCE(ec, 0) AS DOUBLE) / 100 AS event_total
        |FROM o FULL OUTER JOIN e ON o.key_id = e.key_id""".stripMargin), scale = true),
    // per-user ordered initials string + regex == the pattern verb;
    // string_agg's ORDER BY pins the same (ts, event_id) order the
    // Spark side gets from sorting the collected structs
    QuerySpec("q_seq_pattern", (s, d) => Analytics.sequencePattern(s, d), Some(
      """SELECT user_id, COUNT(*) AS n_events,
        |  regexp_matches(string_agg(substr(event_type, 1, 1), ''
        |    ORDER BY ts, event_id), 'v.*c.*p') AS matched
        |FROM events GROUP BY user_id""".stripMargin)),
    // df.stat.crosstab: one pivoted aggregate; source vocabulary is the
    // fixed src0..src19 of the synthetic corpus
    QuerySpec("q_crosstab", Stats.langSourceCrosstab(_, _), Some {
      // CAST to BIGINT (HUGEINT→float64 otherwise) and emit in Spark's
      // lexicographic crosstab column order (src0, src1, src10, …, src9).
      val cols = (0 until 20).map(i => s"src$i").sorted.map(c =>
        s"CAST(SUM(CASE WHEN source = '$c' THEN 1 ELSE 0 END) AS BIGINT) AS $c").mkString(",\n  ")
      s"""SELECT lang AS lang_source,
         |  $cols
         |FROM documents GROUP BY lang""".stripMargin
    }),
    // na.drop / na.fill / na.replace as plain SQL predicates: the -1
    // sentinel also counts the imputed rows
    QuerySpec("q_na_clean", Stats.naCleanedSummary(_, _), Some(
      """SELECT CASE WHEN event_type = 'view' THEN 'impression' ELSE event_type END
        |    AS event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(COALESCE(value, -1.0) AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  COUNT(CASE WHEN COALESCE(value, -1.0) = -1.0 THEN 1 END) AS n_imputed
        |FROM events
        |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1""".stripMargin)),
    // BFS unrolled: round i settles distance i, exactly the Spark loop
    // scale: k-hop BFS over the densifying co-order graph — the remaining
    // graph-tier verb with no 100× datapoint before r14 (frontier joins
    // ride the |edges| front like kcore's rounds)
    QuerySpec("q_khop", (s, d) => Analytics.khopDistances(s, d), Some {
      val rounds = (1 to 3).map { i =>
        s"""d$i AS (SELECT part, MIN(dist) AS dist FROM (
           |  SELECT part, dist FROM d${i - 1}
           |  UNION ALL SELECT e.dst, d${i - 1}.dist + 1
           |  FROM d${i - 1} JOIN e ON d${i - 1}.part = e.src) GROUP BY part)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |und AS (SELECT x.pk AS a, y.pk AS b
         |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
         |d0 AS (SELECT (SELECT MIN(src) FROM e) AS part, 0 AS dist),
         |$rounds
         |SELECT part, dist FROM d3""".stripMargin
    }, scale = true),
    // one verb, two plans: Spark reaches open/close via min_by/max_by on
    // a (ts, event_id) struct key (O(1) state per bar); the oracle via
    // ROW_NUMBER — identical rows because (ts, event_id) is unique
    QuerySpec("q_ohlc", (s, d) => Analytics.ohlcBars(s, d), Some(
      """WITH e AS (SELECT event_type, date_trunc('hour', ts) AS bar_hour,
        |    CAST(FLOOR(minute(ts) / 15) * 15 AS INTEGER) AS bar_minute,
        |    ts, event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, bar_hour, bar_minute
        |                       ORDER BY ts, event_id) AS rn_a,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, bar_hour, bar_minute
        |                       ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT event_type, bar_hour, bar_minute,
        |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS volume
        |FROM r GROUP BY 1, 2, 3""".stripMargin), scale = true),
    // --- statistics tier --------------------------------------------------
    // mid-rank identity: Spark's histogram rank 2·below+cnt+1 ==
    // 2·RANK()+COUNT(per value)−1; sums exact integer, rho mirrored double
    QuerySpec("q_spearman", Stats.spearmanQuantityPrice(_, _), Some(
      """WITH r AS (
        |  SELECT l_returnflag AS g,
        |    2*RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        |      + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS rx,
        |    2*RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
        |      + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS ry
        |  FROM lineitem),
        |s AS (SELECT g, COUNT(*) AS n,
        |    SUM(CAST(rx AS HUGEINT)) AS sx, SUM(CAST(ry AS HUGEINT)) AS sy,
        |    SUM(CAST(rx AS HUGEINT) * ry) AS sxy,
        |    SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
        |    SUM(CAST(ry AS HUGEINT) * ry) AS syy
        |  FROM r GROUP BY g)
        |SELECT g AS l_returnflag, n,
        |  round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |         AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
        |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |      (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |       sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    END, 6) AS spearman_rho
        |FROM s""".stripMargin), scale = true),
    // Cohen's kappa from exact integer counts; po/pe divisions and the
    // fixed-order marginal products mirrored verbatim
    QuerySpec("q_cohen_kappa", Stats.cohenKappa(_, _), Some(
      """WITH lab AS (SELECT
        |    CAST(CAST(('0x' || substr(md5('a_' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 3 AS INTEGER) AS a,
        |    CASE WHEN CAST(('0x' || substr(md5('agree_' || CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) % 4 < 3
        |      THEN CAST(CAST(('0x' || substr(md5('a_' || CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) % 3 AS INTEGER)
        |      ELSE CAST(CAST(('0x' || substr(md5('b_' || CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) % 3 AS INTEGER) END AS b
        |  FROM documents),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
        |    CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a0,
        |    CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        |    CAST(SUM(CASE WHEN a = 2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
        |    CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
        |    CAST(SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
        |    CAST(SUM(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2
        |  FROM lab),
        |m AS (SELECT n,
        |    CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |    (CAST(a0 AS DOUBLE)*CAST(b0 AS DOUBLE)
        |      + CAST(a1 AS DOUBLE)*CAST(b1 AS DOUBLE)
        |      + CAST(a2 AS DOUBLE)*CAST(b2 AS DOUBLE))
        |      / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)) AS pe
        |  FROM c)
        |SELECT n, round(po, 6) AS p_observed, round(pe, 6) AS p_expected,
        |  round(CASE WHEN CAST(1 AS DOUBLE) - pe > 0
        |    THEN (po - pe) / (CAST(1 AS DOUBLE) - pe)
        |    ELSE CAST(0 AS DOUBLE) END, 6) AS kappa
        |FROM m""".stripMargin)),
    // Welch from exact decimal (n, Σv, Σv²); every derived double mirrors
    // the Spark expression shape node for node
    // bnlj: its two 1-row arm summaries
    QuerySpec("q_ab_test", Stats.welchTTest(_, _), Some(
      """WITH a AS (
        |  SELECT (user_id % 2 = 0) AS arm_a, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(12,2))) AS s,
        |    SUM(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)) AS DECIMAL(38,4))) AS ss
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |w AS (SELECT
        |    (SELECT n FROM a WHERE arm_a) AS n_a,
        |    (SELECT s FROM a WHERE arm_a) AS s_a,
        |    (SELECT ss FROM a WHERE arm_a) AS ss_a,
        |    (SELECT n FROM a WHERE NOT arm_a) AS n_b,
        |    (SELECT s FROM a WHERE NOT arm_a) AS s_b,
        |    (SELECT ss FROM a WHERE NOT arm_a) AS ss_b),
        |m AS (SELECT n_a, n_b,
        |    CAST(s_a AS DOUBLE) / n_a AS m_a, CAST(s_b AS DOUBLE) / n_b AS m_b,
        |    CASE WHEN n_a > 1 THEN
        |      (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a) / (n_a - 1) END AS v_a,
        |    CASE WHEN n_b > 1 THEN
        |      (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / n_b) / (n_b - 1) END AS v_b
        |  FROM w)
        |SELECT n_a, n_b,
        |  round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
        |  round(v_a, 6) AS var_a, round(v_b, 6) AS var_b,
        |  round(CASE WHEN v_a / n_a + v_b / n_b > 0
        |    THEN (m_a - m_b) / sqrt(v_a / n_a + v_b / n_b) END, 6) AS t_stat,
        |  round(CASE WHEN (v_a / n_a) * (v_a / n_a) / (n_a - 1) + (v_b / n_b) * (v_b / n_b) / (n_b - 1) > 0
        |    THEN (v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b) /
        |      ((v_a / n_a) * (v_a / n_a) / (n_a - 1) + (v_b / n_b) * (v_b / n_b) / (n_b - 1)) END, 6) AS df
        |FROM m""".stripMargin), bnlj = true),
    // bin arithmetic mirrored double-for-double (identical inputs →
    // identical IEEE results → identical floor)
    // bnlj: the 1-row min/max edges
    QuerySpec("q_histogram", (s, d) => Stats.priceHistogram(s, d), Some(
      """WITH b AS (SELECT MIN(o_totalprice) AS vmin, MAX(o_totalprice) AS vmax FROM orders),
        |h AS (SELECT
        |    CAST(CASE WHEN vmax = vmin THEN 0 ELSE
        |      LEAST(FLOOR((o_totalprice - vmin) * 16 / (vmax - vmin)), 15) END AS INTEGER) AS bin,
        |    vmin, vmax
        |  FROM orders CROSS JOIN b)
        |SELECT bin,
        |  round(vmin + bin * (vmax - vmin) / 16, 4) AS bin_lo,
        |  round(vmin + (bin + 1) * (vmax - vmin) / 16, 4) AS bin_hi,
        |  COUNT(*) AS n
        |FROM h GROUP BY bin, vmin, vmax""".stripMargin), bnlj = true),
    // frame sums in exact decimal (associative — safe under either
    // engine's window-sum evaluation order), Pearson mirrored double;
    // ONE oracle, TWO plans: the per-type window and the rank-sliced
    // distributed form must produce identical bits
    // cautionary: window partitioned by event_type alone: one reducer per
    // type's entire history — measured 4.13× at 10× vs the rank-sliced
    // twin's 1.4×
    QuerySpec("q_rolling_autocorr", (s, d) => Stats.rollingAutocorr(s, d),
      Some(rollingAutocorrSql), cautionaryTwin = Some("q_rolling_autocorr_dist"), scale = true),
    QuerySpec("q_rolling_autocorr_dist", (s, d) => Stats.rollingAutocorrDist(s, d),
      Some(rollingAutocorrSql), scale = true),
    // OLS from the six exact decimal sums; slope staged in a CTE so the
    // intercept reuses the SAME computed double (mirrors the Spark
    // withColumn staging); vx/vy guards follow the house ANSI contract
    QuerySpec("q_linreg", Stats.olsRegression(_, _), Some(
      """WITH s AS (
        |  SELECT l_returnflag AS g, COUNT(*) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
        |    SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(38,4))) AS sxy,
        |    SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(38,4))) AS sxx,
        |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(38,4))) AS syy
        |  FROM lineitem GROUP BY 1),
        |d AS (SELECT g, n,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
        |    CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy
        |  FROM s),
        |f AS (SELECT g, n, vx, vy, cov, dx, dy,
        |    CASE WHEN vx > 0 THEN cov / vx END AS slope FROM d)
        |SELECT g AS l_returnflag, n,
        |  round(slope, 6) AS slope,
        |  round((dy - slope * dx) / CAST(n AS DOUBLE), 6) AS intercept,
        |  round(CASE WHEN vx > 0 AND vy > 0 THEN cov * cov / (vx * vy) END, 6) AS r2
        |FROM f""".stripMargin), scale = true),
    // KS: exact integer CDF-difference maximand (|cum_a·n_b − cum_b·n_a|
    // in HUGEINT mirrors Spark's DECIMAL(38,0)); only the final D ratio
    // is double
    // bnlj: 1-row min/max bounds + 1-row arm totals
    QuerySpec("q_ks_test", Stats.ksTest(_, _), Some(
      """WITH ev AS (SELECT value AS v, user_id % 2 = 0 AS arm_a
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT v, COUNT(CASE WHEN arm_a THEN 1 END) AS ca,
        |    COUNT(CASE WHEN NOT arm_a THEN 1 END) AS cb FROM ev GROUP BY 1),
        |c AS (SELECT v,
        |    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
        |    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
        |  FROM h),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b FROM h)
        |SELECT n_a, n_b,
        |  round(CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    CAST(MAX(ABS(CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a)) AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) END, 6) AS ks_d
        |FROM c CROSS JOIN t GROUP BY n_a, n_b""".stripMargin), scale = true, bnlj = true),
    // MWU: doubled mid-ranks (2·below + c + 1) keep ties integer-exact;
    // rank sum / U / tie term in HUGEINT; z in mirrored doubles with the
    // house zero-variance NULL guard
    // bnlj: 1-row min/max bounds + 1-row arm totals
    QuerySpec("q_mwu", Stats.mannWhitneyU(_, _), Some(
      """WITH ev AS (SELECT value AS v, user_id % 2 = 0 AS arm_a
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT v, COUNT(CASE WHEN arm_a THEN 1 END) AS ca,
        |    COUNT(CASE WHEN NOT arm_a THEN 1 END) AS cb FROM ev GROUP BY 1),
        |r AS (SELECT v, ca, cb, ca + cb AS c,
        |    COALESCE(SUM(ca + cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM h),
        |s AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
        |    SUM(CAST(2 * below + c + 1 AS HUGEINT) * ca) AS r2a,
        |    SUM(CAST(c AS HUGEINT) * c * c - c) AS ties
        |  FROM r),
        |u AS (SELECT n_a, n_b, ties, n_a + n_b AS nn,
        |    r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS u2a FROM s),
        |w AS (SELECT n_a, n_b, u2a,
        |    CASE WHEN nn > 1 THEN
        |      CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
        |        ((CAST(nn AS DOUBLE) + 1) - CAST(ties AS DOUBLE) /
        |          (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1))) END AS varu
        |  FROM u)
        |SELECT n_a, n_b, CAST(u2a AS DOUBLE) / 2 AS u_a,
        |  round(CASE WHEN varu > 0 THEN
        |    (CAST(u2a AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
        |      (2 * sqrt(varu)) END, 6) AS z
        |FROM w""".stripMargin), scale = true, bnlj = true),
    // seasonal decomposition: means/offsets in mirrored doubles from the
    // exact decimal (n, Σv) grid
    QuerySpec("q_seasonal", Stats.seasonalProfile(_, _), Some(
      """WITH cells AS (
        |  SELECT event_type, CAST(hour(ts) AS INTEGER) AS hod, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(12,2))) AS s
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |types AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tn, SUM(s) AS ts_sum
        |  FROM cells GROUP BY 1)
        |SELECT c.event_type, c.hod, c.n,
        |  round(CAST(c.s AS DOUBLE) / c.n, 6) AS hod_mean,
        |  round(CAST(c.s AS DOUBLE) / c.n - CAST(t.ts_sum AS DOUBLE) / t.tn, 6) AS seasonal
        |FROM cells c JOIN types t ON c.event_type = t.event_type""".stripMargin), scale = true),
    // per-cell z-scores from exact decimal moments; mirrored double
    // arithmetic, varp > 0 guard per the house ANSI contract
    // scale: cell moments broadcast over the growing stream; flags filter map-side
    QuerySpec("q_seasonal_anomaly", (s, d) => Stats.seasonalAnomalies(s, d), Some(
      """WITH ev AS (SELECT event_type, CAST(hour(ts) AS INTEGER) AS hod, event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |cells AS (SELECT event_type, hod, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(12,2))) AS s,
        |    SUM(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)) AS DECIMAL(38,4))) AS ss
        |  FROM ev GROUP BY 1, 2),
        |j AS (SELECT e.event_type, e.hod, e.event_id, e.value,
        |    CAST(CAST(e.value AS DECIMAL(12,2)) AS DOUBLE) AS x,
        |    CAST(c.s AS DOUBLE) / c.n AS mean,
        |    CAST(c.ss AS DOUBLE) / c.n -
        |      (CAST(c.s AS DOUBLE) / c.n) * (CAST(c.s AS DOUBLE) / c.n) AS varp
        |  FROM ev e JOIN cells c ON e.event_type = c.event_type AND e.hod = c.hod),
        |z AS (SELECT event_type, hod, event_id, value,
        |    (x - mean) / sqrt(varp) AS z
        |  FROM j WHERE varp > 0)
        |SELECT event_type, hod, event_id, value, round(z, 6) AS z
        |FROM z WHERE ABS(z) > 3""".stripMargin), scale = true),
    // exact-oracle ML training: the same gradient steps unrolled as CTE
    // stages, every expression mirrored (see LogReg.oracleSql)
    // eager: the gradient-descent loop runs on build
    QuerySpec("q_logreg", (s, d) => graft.operators.LogReg.trainEnClassifier(s, d),
      Some(graft.operators.LogReg.oracleSql()), scale = true, eager = true),
    // --- drift / distribution comparison ----------------------------------
    // PSI: integer midpoint split (exact — micros < 2^53), reference-side
    // bin edges, Laplace-smoothed probabilities; per-bin ln terms rounded
    // to 9 decimals and summed in DECIMAL (order-free) before the final
    // rounded double — the house cross-engine total contract
    // bnlj: 1-row broadcast time midpoint against the log
    QuerySpec("q_psi_drift", (s, d) => Drift.psiDrift(s, d), Some(
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS us, value FROM events WHERE value IS NOT NULL),
        |mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ev),
        |sided AS (SELECT event_type, value, us < mid AS is_ref FROM ev CROSS JOIN mid),
        |edges AS (SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax FROM sided WHERE is_ref GROUP BY 1),
        |binned AS (SELECT s.event_type,
        |    CAST(CASE WHEN e.vmax = e.vmin THEN 0 ELSE
        |      GREATEST(LEAST(FLOOR((s.value - e.vmin) * 10 / (e.vmax - e.vmin)), 9), 0) END AS INTEGER) AS bin,
        |    COUNT(CASE WHEN s.is_ref THEN 1 END) AS c_ref,
        |    COUNT(CASE WHEN NOT s.is_ref THEN 1 END) AS c_cur
        |  FROM sided s JOIN edges e ON s.event_type = e.event_type GROUP BY 1, 2),
        |grid AS (SELECT e.event_type, CAST(b.bin AS INTEGER) AS bin
        |  FROM edges e CROSS JOIN (SELECT unnest(range(10)) AS bin) b),
        |cells AS (SELECT g.event_type, g.bin,
        |    COALESCE(bn.c_ref, 0) AS c_ref, COALESCE(bn.c_cur, 0) AS c_cur
        |  FROM grid g LEFT JOIN binned bn ON bn.event_type = g.event_type AND bn.bin = g.bin),
        |tot AS (SELECT event_type, CAST(SUM(c_ref) AS BIGINT) AS n_ref,
        |    CAST(SUM(c_cur) AS BIGINT) AS n_cur FROM cells GROUP BY 1),
        |p AS (SELECT c.event_type, t.n_ref, t.n_cur,
        |    CAST(c.c_ref + 1 AS DOUBLE) / (t.n_ref + 10) AS p_ref,
        |    CAST(c.c_cur + 1 AS DOUBLE) / (t.n_cur + 10) AS p_cur
        |  FROM cells c JOIN tot t ON c.event_type = t.event_type)
        |SELECT event_type, MAX(n_ref) AS n_ref, MAX(n_cur) AS n_cur,
        |  round(CAST(SUM(CAST(round((p_cur - p_ref) * ln(p_cur / p_ref), 9) AS DECIMAL(38,9))) AS DOUBLE), 6) AS psi
        |FROM p GROUP BY 1""".stripMargin), scale = true, bnlj = true),
    // JSD between the deterministic experiment arms; x·ln(x/m) with the
    // x→0 ⇒ 0 limit, same decimal-sum total contract
    // bnlj: 1-row totals / tiny marginals grid
    QuerySpec("q_js_divergence", Drift.jsDivergence(_, _), Some(
      """WITH b AS (SELECT event_type,
        |    COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS c_a,
        |    COUNT(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS c_b
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a, CAST(SUM(c_b) AS BIGINT) AS n_b,
        |    COUNT(*) AS n_types FROM b),
        |terms AS (SELECT n_a, n_b, n_types,
        |    CAST(c_a AS DOUBLE) / n_a AS p, CAST(c_b AS DOUBLE) / n_b AS q
        |  FROM b CROSS JOIN t),
        |tm AS (SELECT n_a, n_b, n_types, p, q, (p + q) / 2 AS m FROM terms)
        |SELECT n_a, n_b, n_types,
        |  round(CAST(SUM(CAST(round(
        |    CASE WHEN p > 0 THEN p * ln(p / m) / 2 ELSE 0 END +
        |    CASE WHEN q > 0 THEN q * ln(q / m) / 2 ELSE 0 END, 9) AS DECIMAL(38,9))) AS DOUBLE), 6) AS jsd_nats
        |FROM tm GROUP BY 1, 2, 3""".stripMargin), scale = true, bnlj = true),
    // chi-square over the full marginals grid (absent cells observed 0);
    // no logarithms — pure ratio/square arithmetic on exact counts
    // bnlj: 1-row totals / tiny marginals grid
    QuerySpec("q_chi2", Drift.chi2Independence(_, _), Some(
      """WITH obs AS (SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, COUNT(*) AS rl FROM documents GROUP BY 1),
        |c AS (SELECT source, COUNT(*) AS cl FROM documents GROUP BY 1),
        |t AS (SELECT COUNT(*) AS n FROM documents),
        |g AS (SELECT r.lang, c.source, r.rl, c.cl, t.n, COALESCE(obs.o, 0) AS o
        |  FROM r CROSS JOIN c CROSS JOIN t
        |  LEFT JOIN obs ON obs.lang = r.lang AND obs.source = c.source),
        |e AS (SELECT *, CAST(rl AS DOUBLE) * CAST(cl AS DOUBLE) / CAST(n AS DOUBLE) AS e FROM g),
        |m AS (SELECT MAX(n) AS n, COUNT(DISTINCT lang) AS n_lang, COUNT(DISTINCT source) AS n_source,
        |    CAST(SUM(CAST(round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e, 9) AS DECIMAL(38,9))) AS DOUBLE) AS chi2s
        |  FROM e)
        |SELECT n, n_lang, n_source, (n_lang - 1) * (n_source - 1) AS df,
        |  round(chi2s, 6) AS chi2 FROM m""".stripMargin), scale = true, bnlj = true),
    // Cramér's V: the chi2 query's exact-contract statistic normalized
    // to effect size — sqrt is correctly-rounded IEEE on both engines
    // bnlj: 1-row totals / tiny marginals grid
    QuerySpec("q_cramers_v", Drift.cramersV(_, _), Some(
      """WITH obs AS (SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, COUNT(*) AS rl FROM documents GROUP BY 1),
        |c AS (SELECT source, COUNT(*) AS cl FROM documents GROUP BY 1),
        |t AS (SELECT COUNT(*) AS n FROM documents),
        |g AS (SELECT r.lang, c.source, r.rl, c.cl, t.n, COALESCE(obs.o, 0) AS o
        |  FROM r CROSS JOIN c CROSS JOIN t
        |  LEFT JOIN obs ON obs.lang = r.lang AND obs.source = c.source),
        |e AS (SELECT *, CAST(rl AS DOUBLE) * CAST(cl AS DOUBLE) / CAST(n AS DOUBLE) AS e FROM g),
        |m AS (SELECT MAX(n) AS n, COUNT(DISTINCT lang) AS n_lang, COUNT(DISTINCT source) AS n_source,
        |    round(CAST(SUM(CAST(round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e, 9) AS DECIMAL(38,9))) AS DOUBLE), 6) AS chi2
        |  FROM e)
        |SELECT n, n_lang, n_source, chi2,
        |  round(CASE WHEN LEAST(n_lang - 1, n_source - 1) > 0 THEN
        |    SQRT(chi2 / (CAST(n AS DOUBLE)
        |      * CAST(LEAST(n_lang - 1, n_source - 1) AS DOUBLE))) END, 6) AS cramers_v
        |FROM m""".stripMargin), bnlj = true),
    // --- spatial ----------------------------------------------------------
    // oracle brute-forces the cross product (trivial at verify scale);
    // the engine's grid equi-join must reproduce it exactly — integer
    // coordinates from the shared md5 arithmetic, integer distances
    QuerySpec("q_geo_join", (s, d) => Geo.customersNearSuppliers(s, d), Some(
      """WITH c AS (SELECT c_custkey,
        |    CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'cx'), 1, 8)) AS BIGINT) % 10000 AS x,
        |    CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'cy'), 1, 8)) AS BIGINT) % 10000 AS y
        |  FROM customer),
        |s AS (SELECT s_suppkey,
        |    CAST(('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || 'sx'), 1, 8)) AS BIGINT) % 10000 AS sx,
        |    CAST(('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || 'sy'), 1, 8)) AS BIGINT) % 10000 AS sy
        |  FROM supplier)
        |SELECT c_custkey, s_suppkey,
        |  (x - sx) * (x - sx) + (y - sy) * (y - sy) AS dist2
        |FROM c CROSS JOIN s
        |WHERE (x - sx) * (x - sx) + (y - sy) * (y - sy) <= 160000""".stripMargin)),
    // --- multimodal ------------------------------------------------------
    QuerySpec("q_binary_meta", Multimodal.binaryMeta(_, _), Some(
      "SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes, sha256(text) AS sha256 FROM documents")),
    QuerySpec("q_byte_histogram", (s, d) => Multimodal.byteHistogram(s, d), Some(
      """WITH pos AS (
        |  SELECT doc_id, text, unnest(range(1, strlen(text) + 1)) AS i FROM documents),
        |chars AS (
        |  SELECT doc_id, ascii(substr(text, CAST(i AS INTEGER), 1)) % 8 AS bucket FROM pos),
        |cnt AS (SELECT doc_id, bucket, COUNT(*) AS c FROM chars GROUP BY doc_id, bucket)
        |SELECT d.doc_id, CAST(strlen(d.text) AS INTEGER) AS n_bytes,
        |  CAST(b.b AS INTEGER) AS bucket, CAST(COALESCE(cnt.c, 0) AS BIGINT) AS count
        |FROM documents d CROSS JOIN generate_series(0, 7) b(b)
        |LEFT JOIN cnt ON cnt.doc_id = d.doc_id AND cnt.bucket = b.b""".stripMargin)),
    // q_image_decode: the engine decodes a real PNG it synthesized from the
    // doc bytes; PNG gray-8 is lossless, so the decoded raster equals the
    // space-padded text bytes and DuckDB recomputes the stats directly.
    QuerySpec("q_image_decode", Multimodal.imageDecode(_, _), Some(
      """WITH d AS (
        |  SELECT doc_id, text, strlen(text) AS len,
        |         CAST(ceil(strlen(text) / 16.0) AS INTEGER) AS h
        |  FROM documents WHERE strlen(text) >= 1),
        |p AS (
        |  SELECT doc_id, h, text || repeat(' ', 16 * h - len) AS padded FROM d),
        |e AS (
        |  SELECT doc_id, padded, CAST(unnest(range(0, CAST(16 * h AS BIGINT))) AS INTEGER) AS pos FROM p),
        |s AS (
        |  SELECT doc_id, SUM(ascii(substr(padded, pos + 1, 1))) AS pix_sum, COUNT(*) AS n
        |  FROM e GROUP BY doc_id)
        |SELECT p.doc_id, CAST(16 AS INTEGER) AS width, CAST(p.h AS INTEGER) AS height,
        |       CAST(16 * p.h AS INTEGER) AS n_pixels,
        |       sha256(p.padded) AS pixel_sha256,
        |       CAST(s.pix_sum AS DOUBLE) / s.n AS channel_mean
        |FROM p JOIN s USING (doc_id)""".stripMargin)),
    // q_jpeg_decode: the engine hand-encodes a DC-only baseline JPEG
    // (two uniform 8x8 blocks per padded byte pair, Q0 = 8) and decodes
    // it with the pure-JVM SOF0 decoder; the DC-only IDCT is exact, so
    // the oracle rebuilds the decoded raster from the text alone
    QuerySpec("q_jpeg_decode", Multimodal.jpegDecode(_, _), Some(
      """WITH d AS (
        |  SELECT doc_id, text, strlen(text) AS len,
        |         strlen(text) + (strlen(text) % 2) AS len2
        |  FROM documents WHERE strlen(text) >= 1),
        |p AS (
        |  SELECT doc_id, len2, text || repeat(' ', len2 - len) AS padded FROM d),
        |rws AS (
        |  SELECT doc_id, padded,
        |    CAST(unnest(range(0, CAST(len2 // 2 AS BIGINT))) AS INTEGER) AS r
        |  FROM p),
        |blk AS (
        |  SELECT doc_id, r,
        |    repeat(repeat(substr(padded, 2 * r + 1, 1), 8) ||
        |           repeat(substr(padded, 2 * r + 2, 1), 8), 8) AS rowblock
        |  FROM rws),
        |pix AS (
        |  SELECT doc_id, string_agg(rowblock, '' ORDER BY r) AS pixels
        |  FROM blk GROUP BY doc_id),
        |m AS (
        |  SELECT doc_id, len2, SUM(ascii(substr(padded, i + 1, 1))) AS s
        |  FROM (SELECT doc_id, len2, padded,
        |      CAST(unnest(range(0, CAST(len2 AS BIGINT))) AS INTEGER) AS i
        |    FROM p) z
        |  GROUP BY doc_id, len2)
        |SELECT m.doc_id, CAST(16 AS INTEGER) AS width,
        |  CAST(4 * m.len2 AS INTEGER) AS height,
        |  CAST(64 * m.len2 AS INTEGER) AS n_pixels,
        |  sha256(pix.pixels) AS pixel_sha256,
        |  CAST(m.s AS DOUBLE) / m.len2 AS channel_mean
        |FROM m JOIN pix USING (doc_id)""".stripMargin), scale = true),
    // q_jpeg_ac_decode: the AC-carrying twin — each block adds one AC
    // coefficient at natural (u=0, v=4) whose basis is constant over x
    // and ±√2/2 over y, so pixel(x,y) = clamp(byte + sign(y)·ac) exactly
    // (sign = + − − + + − − +, ac = byte%5 − 2); the fingerprint is md5
    // over the HEX-encoded raster (AC shifts pixels past ASCII, where a
    // VARCHAR would UTF-8-mangle raw bytes)
    // scale: the AC-carrying twin (r14): same executor-local scan shape, plus
    // the separable-IDCT sparse path this sweep exists to keep honest
    QuerySpec("q_jpeg_ac_decode", Multimodal.jpegAcDecode(_, _), Some(
      """WITH d AS (
        |  SELECT doc_id, text, strlen(text) AS len,
        |         strlen(text) + (strlen(text) % 2) AS len2
        |  FROM documents WHERE strlen(text) >= 1),
        |p AS (
        |  SELECT doc_id, len2, text || repeat(' ', len2 - len) AS padded FROM d),
        |brow AS (
        |  SELECT doc_id, len2, padded,
        |    CAST(unnest(range(0, CAST(len2 // 2 AS BIGINT))) AS INTEGER) AS by
        |  FROM p),
        |rws AS (
        |  SELECT doc_id, len2, by, CAST(unnest(range(0, 8)) AS INTEGER) AS yy,
        |    ascii(substr(padded, 2 * by + 1, 1)) AS bl,
        |    ascii(substr(padded, 2 * by + 2, 1)) AS br
        |  FROM brow),
        |px AS (
        |  SELECT doc_id, len2, by, yy,
        |    least(255, greatest(0, bl + sgn * (bl % 5 - 2))) AS pl,
        |    least(255, greatest(0, br + sgn * (br % 5 - 2))) AS pr
        |  FROM (SELECT *, CASE WHEN yy IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sgn
        |        FROM rws) z),
        |hx AS (
        |  SELECT doc_id, md5(string_agg(
        |      repeat(printf('%02x', pl), 8) || repeat(printf('%02x', pr), 8),
        |      '' ORDER BY by, yy)) AS pixel_md5,
        |    SUM(8 * (pl + pr)) AS s, MAX(len2) AS len2
        |  FROM px GROUP BY doc_id)
        |SELECT doc_id, CAST(16 AS INTEGER) AS width,
        |  CAST(4 * len2 AS INTEGER) AS height,
        |  CAST(64 * len2 AS INTEGER) AS n_pixels, pixel_md5,
        |  CAST(s AS DOUBLE) / (64 * len2) AS channel_mean
        |FROM hx""".stripMargin), scale = true),
    // q_audio_decode: WAV PCM round-trip is lossless, so decoded samples
    // equal the text bytes and DuckDB recomputes rate/duration/sha/mean.
    QuerySpec("q_audio_decode", Multimodal.audioDecode(_, _), Some(
      """WITH d AS (
        |  SELECT doc_id, text, strlen(text) AS len
        |  FROM documents WHERE strlen(text) >= 1),
        |e AS (
        |  SELECT doc_id, text, CAST(unnest(range(0, CAST(len AS BIGINT))) AS INTEGER) AS pos FROM d),
        |s AS (
        |  SELECT doc_id, SUM(ascii(substr(text, pos + 1, 1))) AS amp_sum, COUNT(*) AS n
        |  FROM e GROUP BY doc_id)
        |SELECT d.doc_id, CAST(8000 AS INTEGER) AS sample_rate,
        |       CAST(d.len AS INTEGER) AS n_samples,
        |       CAST(d.len AS DOUBLE) / 8000 AS duration_sec,
        |       sha256(d.text) AS pcm_sha256,
        |       CAST(s.amp_sum AS DOUBLE) / s.n AS amplitude_mean
        |FROM d JOIN s USING (doc_id)""".stripMargin)),
    // per-frame audio features: PCM == text bytes (lossless), so the
    // frame folds replay on codepoints; sqrt is the only double
    QuerySpec("q_audio_features", Multimodal.audioFeatures(_, _), Some(
      """WITH d AS (
        |  SELECT doc_id, text, strlen(text) AS len
        |  FROM documents WHERE strlen(text) >= 1),
        |e AS (
        |  SELECT doc_id, text,
        |    CAST(unnest(range(0, CAST(len AS BIGINT))) AS INTEGER) AS pos
        |  FROM d),
        |x AS (
        |  SELECT doc_id, pos // 256 AS frame_idx, pos % 256 AS fpos,
        |    ascii(substr(text, pos + 1, 1)) - 128 AS dev
        |  FROM e),
        |x2 AS (
        |  SELECT doc_id, frame_idx, dev,
        |    LAG(dev) OVER (PARTITION BY doc_id, frame_idx ORDER BY fpos) AS pdev
        |  FROM x),
        |f AS (
        |  SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |    CAST(COUNT(*) AS INTEGER) AS n,
        |    CAST(SUM(CAST(dev AS BIGINT) * dev) AS BIGINT) AS energy,
        |    CAST(SUM(CASE WHEN (pdev > 0 AND dev < 0)
        |      OR (pdev < 0 AND dev > 0) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zero_crossings
        |  FROM x2 GROUP BY doc_id, frame_idx)
        |SELECT doc_id, frame_idx, n, energy, zero_crossings,
        |  ROUND(sqrt(CAST(energy AS DOUBLE) / n), 6) AS rms,
        |  sqrt(CAST(energy AS DOUBLE) / n) < 10.0 AS is_silence
        |FROM f""".stripMargin), scale = true),
    // per-frame 4-bin fixed-point DFT: the Q15 coefficient tables are
    // the SAME driver-computed integers the Spark fold used (embedded
    // as list literals), so re/im are exact BIGINT dot products on both
    // engines and the normalized magnitude is the one double site
    QuerySpec("q_audio_spectrum", Multimodal.audioSpectrum(_, _), Some {
      val bands = graft.operators.Multimodal.SpectrumBins.map { b =>
        val (c, s) = graft.operators.Multimodal.q15Tables(b, 256)
        s"(${b}, ${c.mkString("[", ",", "]")}, ${s.mkString("[", ",", "]")})"
      }.mkString(",\n        ")
      s"""WITH d AS (
         |  SELECT doc_id, text, strlen(text) AS len
         |  FROM documents WHERE strlen(text) >= 1),
         |e AS (
         |  SELECT doc_id, text,
         |    CAST(unnest(range(0, CAST(len AS BIGINT))) AS INTEGER) AS pos
         |  FROM d),
         |x AS (
         |  SELECT doc_id, pos // 256 AS frame_idx, pos % 256 AS fpos,
         |    ascii(substr(text, pos + 1, 1)) - 128 AS dev
         |  FROM e),
         |b(bin, cosq, sinq) AS (VALUES
         |        $bands),
         |f AS (
         |  SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx, bin,
         |    CAST(COUNT(*) AS INTEGER) AS n,
         |    CAST(SUM(CAST(dev AS BIGINT) * cosq[fpos + 1]) AS BIGINT) AS re_q15,
         |    CAST(SUM(CAST(dev AS BIGINT) * sinq[fpos + 1]) AS BIGINT) AS im_q15
         |  FROM x CROSS JOIN b GROUP BY doc_id, frame_idx, bin)
         |SELECT doc_id, frame_idx, bin, n, re_q15, im_q15,
         |  ROUND(sqrt(CAST(re_q15 * re_q15 + im_q15 * im_q15 AS DOUBLE))
         |    / (32768.0 * n), 6) AS magnitude
         |FROM f""".stripMargin
    }, scale = true),
    // exact time-to-convert order statistics from the bounded gap
    // histogram: k = ceil(num*n/den) in pure integer arithmetic
    // bnlj: 1-row total + 3 quantile rows against the tiny gap histogram
    QuerySpec("q_time_to_convert", (s, d) => Analytics.timeToConvert(s, d), Some(
      """WITH pu AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS ts,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT (tp - ts) // 3600000000 AS gap
        |  FROM pu WHERE ts IS NOT NULL AND tp IS NOT NULL AND tp >= ts),
        |hist AS (SELECT gap, COUNT(*) AS c FROM g GROUP BY gap),
        |cum AS (
        |  SELECT gap, SUM(c) OVER (ORDER BY gap
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM hist),
        |tot AS (SELECT COUNT(*) AS n_users FROM g),
        |qs AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10),
        |  ('p99', 99, 100)) AS t(quantile, num, den))
        |SELECT quantile, n_users,
        |  CAST((num * n_users + den - 1) // den AS BIGINT) AS k,
        |  MIN(gap) AS gap_hours
        |FROM cum CROSS JOIN tot CROSS JOIN qs
        |WHERE cum >= (num * n_users + den - 1) // den
        |GROUP BY quantile, n_users, k""".stripMargin), scale = true, bnlj = true),
    // q_image_resize: decode-then-resample — the engine decodes its own
    // PNG and decimates the DECODED raster 2x (even rows/cols); DuckDB
    // mirrors the explicit kernel on the space-padded text bytes.
    QuerySpec("q_image_resize", Multimodal.imageResize(_, _), Some(
      """WITH d AS (
        |  SELECT doc_id, text, strlen(text) AS len,
        |         CAST(ceil(strlen(text) / 16.0) AS INTEGER) AS h
        |  FROM documents WHERE strlen(text) >= 1),
        |p AS (
        |  SELECT doc_id, h, CAST((h + 1) // 2 AS INTEGER) AS out_h,
        |         text || repeat(' ', 16 * h - len) AS padded FROM d),
        |rr AS (SELECT doc_id, out_h, padded, CAST(unnest(range(0, CAST(out_h AS BIGINT))) AS INTEGER) AS r FROM p),
        |cells AS (
        |  SELECT doc_id, out_h, r, cc.c AS c,
        |         substr(padded, (2*r)*16 + 2*cc.c + 1, 1) AS ch
        |  FROM rr CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS c) cc),
        |s AS (
        |  SELECT doc_id, MIN(out_h) AS out_h,
        |         string_agg(ch, '' ORDER BY r, c) AS resized,
        |         SUM(ascii(ch)) AS pix_sum
        |  FROM cells GROUP BY doc_id)
        |SELECT doc_id, CAST(8 AS INTEGER) AS out_w, out_h,
        |       sha256(resized) AS pixel_sha256, CAST(pix_sum AS BIGINT) AS pixel_sum
        |FROM s""".stripMargin)),
    QuerySpec("q_frame_sample", Multimodal.frameSampleStub(_, _), Some(
      """WITH d AS (
        |  SELECT doc_id, text, CAST(ceil(strlen(text) / 64.0) AS INTEGER) AS n_frames
        |  FROM documents),
        |f AS (SELECT doc_id, text, CAST(unnest(range(0, n_frames, 4)) AS INTEGER) AS frame_idx FROM d)
        |SELECT doc_id, frame_idx,
        |  CAST(strlen(substr(text, frame_idx * 64 + 1, 64)) AS INTEGER) AS frame_len,
        |  md5(substr(text, frame_idx * 64 + 1, 64)) AS frame_md5
        |FROM f""".stripMargin)),
    // q_video_frames: the engine muxes a REAL animated GIF from the padded
    // doc bytes, then demuxes it — frame count from the container parser,
    // frame stats from DECODED pixels. Identity gray palette → lossless,
    // so DuckDB recomputes md5/mean from the padded text bytes.
    QuerySpec("q_video_frames", (s, d) => Multimodal.videoFrames(s, d), Some(
      """WITH d AS (
        |  SELECT doc_id, text, strlen(text) AS len,
        |         CAST(ceil(strlen(text) / 64.0) AS INTEGER) AS n_frames
        |  FROM documents WHERE strlen(text) >= 1),
        |p AS (SELECT doc_id, n_frames, text || repeat(' ', 64 * n_frames - len) AS padded FROM d),
        |f AS (SELECT doc_id, n_frames,
        |        substr(padded, frame_idx * 64 + 1, 64) AS fb, frame_idx
        |      FROM (SELECT doc_id, n_frames, padded,
        |              CAST(unnest(range(0, n_frames, 4)) AS INTEGER) AS frame_idx FROM p)),
        |s AS (
        |  SELECT doc_id, frame_idx, SUM(ascii(substr(fb, pos + 1, 1))) AS bsum
        |  FROM (SELECT doc_id, frame_idx, fb, CAST(unnest(range(0, 64)) AS INTEGER) AS pos FROM f)
        |  GROUP BY doc_id, frame_idx)
        |SELECT f.doc_id, f.frame_idx, f.n_frames, md5(f.fb) AS frame_md5,
        |       CAST(s.bsum AS DOUBLE) / 64 AS frame_mean
        |FROM f JOIN s ON f.doc_id = s.doc_id AND f.frame_idx = s.frame_idx""".stripMargin)),
    // dHash from decoded pixels; PNG losslessness lets the oracle
    // rebuild the 9×8 integer average pool (cross-multiplied compares,
    // no division) from the padded text bytes, bit for bit
    QuerySpec("q_phash", Multimodal.imagePhash(_, _), Some(phashCoreSql() +
      "\nSELECT doc_id, phash_hi, phash_lo FROM ph"), scale = true),
    // image near-dup join: the shared phash core, 4x16-bit bands,
    // candidate equi-self-join, exact bit_count(xor) distance
    QuerySpec("q_image_neardups", (s, d) => Multimodal.imageNearDups(s, d), Some(phashCoreSql() +
      """,
        |bands AS (
        |  SELECT doc_id, phash_hi, phash_lo, band, key FROM (
        |    SELECT *, unnest([0, 1, 2, 3]) AS band,
        |      unnest([phash_hi & 65535, (phash_hi >> 16) & 65535,
        |        phash_lo & 65535, (phash_lo >> 16) & 65535]) AS key
        |    FROM ph) u),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |    x.phash_hi AS ha, x.phash_lo AS la,
        |    y.phash_hi AS hb, y.phash_lo AS lb
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
        |SELECT a, b,
        |  CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS INTEGER) AS dist
        |FROM cand
        |WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 3""".stripMargin), scale = true),
    // Z-order: layout is an optimization, never a semantic — the oracle
    // pins the min/max gridding + Morton math itself (the layout win is
    // ZOrderLayoutSpec's to prove).
    // bnlj: a broadcast single-row min/max bounds relation (the same 1-row-stats
    // crossJoin shape as q_tfidf's corpus count)
    QuerySpec("q_zorder", graft.operators.ZOrder.zValuedEvents(_, _), Some(
      s"""WITH b AS (SELECT min(event_id) AS xmin, max(event_id) AS xmax,
         |                  min(user_id) AS ymin, max(user_id) AS ymax FROM events),
         |g AS (SELECT event_id,
         |        (event_id - xmin) * 65535 // greatest(xmax - xmin, 1) AS zx,
         |        (user_id - ymin) * 65535 // greatest(ymax - ymin, 1) AS zy
         |      FROM events, b)
         |SELECT event_id, zx, zy, ${mortonSql("zx", "zy")} AS zval FROM g""".stripMargin), scale = true, bnlj = true),
    // --- skew toolkit ----------------------------------------------------
    QuerySpec("q_skew_salted_join", Skew.saltedRevenueBySegment(_, _), Some(
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)),
    QuerySpec("q_skew_distinct", Skew.distinctUsersPerType(_, _), Some(
      "SELECT event_type AS k, COUNT(DISTINCT user_id) AS n_distinct FROM events GROUP BY event_type")),
    // key-skew profile: Gini numerator Σ(2·rank − n − 1)·cnt is exact
    // integer (rank over the |keys|-sized count relation), the two final
    // ratios are mirrored doubles
    // bnlj: 1-row corpus total against the per-key counts
    QuerySpec("q_key_skew", Skew.keySkewProfile(_, _), Some(
      """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
        |r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt ASC, user_id ASC) AS i FROM c),
        |t AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows, MAX(cnt) AS max_cnt FROM c),
        |g AS (SELECT CAST(SUM((2 * i - n_keys - 1) * cnt) AS BIGINT) AS gnum
        |      FROM r CROSS JOIN t GROUP BY n_keys)
        |SELECT t.n_rows, t.n_keys, t.max_cnt,
        |  round(CAST(t.max_cnt AS DOUBLE) / t.n_rows, 6) AS top1_share,
        |  round(CAST(g.gnum AS DOUBLE) / (CAST(t.n_keys AS DOUBLE) * CAST(t.n_rows AS DOUBLE)), 6) AS gini
        |FROM t CROSS JOIN g""".stripMargin), bnlj = true),
    // --- source/sink format roundtrips -----------------------------------
    // Bucketed-table join must equal the plain parquet join — the layout
    // is an optimization, never a semantic.
    QuerySpec("q_bucketed_join", graft.sources.BucketedParquetSink.colocatedOrdersJoin(_, _), Some(
      """SELECT o_orderkey, o_custkey, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin)),
    // Partitioned-layout read-back must equal the unpartitioned scan —
    // like bucketing, layout is an optimization, never a semantic.
    QuerySpec("q_partition_pruned", graft.sources.ParquetSink.partitionPrunedEvents(_, _), Some(
      """SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_type = 'purchase' GROUP BY 1""".stripMargin)),
    // runtime pruning is invisible in the RESULT: the oracle is the
    // plain dim-filtered join over the unpartitioned original
    QuerySpec("q_dpp_join", graft.sources.ParquetSink.dppJoin(_, _), Some(
      """WITH dim AS (SELECT * FROM (VALUES
        |    ('view', 'engagement'), ('click', 'engagement'),
        |    ('purchase', 'conversion'), ('signup', 'conversion'),
        |    ('error', 'ops')) AS t(event_type, kind))
        |SELECT e.event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |WHERE d.kind = 'conversion' GROUP BY 1""".stripMargin)),
    // eager: writes the table and reads it back on build
    QuerySpec("q_orc_roundtrip", Roundtrip.orcLineitem(_, _), Some(
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin), eager = true),
    // eager: writes the table and reads it back on build
    QuerySpec("q_xml_roundtrip", Roundtrip.xmlParts(_, _), Some(
      """SELECT p_brand, COUNT(*) AS n,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM part GROUP BY p_brand""".stripMargin), eager = true),
    // eager: writes the table and reads it back on build
    QuerySpec("q_csv_roundtrip", Roundtrip.csvOrders(_, _), Some(
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus""".stripMargin), eager = true),
    // eager: writes the table and reads it back on build
    QuerySpec("q_json_roundtrip", Roundtrip.jsonEvents(_, _), Some(
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type""".stripMargin), eager = true),
    // dynamic partition overwrite: clicks rewritten, all else untouched
    QuerySpec("q_dynamic_overwrite", Roundtrip.dynamicOverwrite(_, _), Some(
      """SELECT event_type,
        |  CASE WHEN event_type = 'click' THEN 'rewrite' ELSE 'orig' END AS gen,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents_sum
        |FROM events GROUP BY 1, 2""".stripMargin)),
    // dead-letter routing: the % 97 slice is corrupted in-flight and
    // must be counted, not dropped; good rows keep their k sum
    QuerySpec("q_dead_letter", Roundtrip.deadLetter(_, _), Some(
      """SELECT CASE WHEN event_id % 97 = 0 THEN 'quarantined' ELSE 'parsed' END AS outcome,
        |  COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 0
        |    ELSE CAST(json_extract_string(props, '$.k') AS INT) END) AS BIGINT) AS k_sum
        |FROM events GROUP BY 1""".stripMargin)),
    // binaryFile ingestion: metadata length + content digest must match
    // the table-resident truth over the same slice.
    QuerySpec("q_binaryfile_source", (s, d) => graft.sources.BinaryFiles.ingestDocs(s, d), Some(
      """SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes, sha256(text) AS sha256
        |FROM documents WHERE doc_id < 100""".stripMargin)),
    // Compaction must be invisible to readers: the aggregate through the
    // fragmented-then-compacted copy equals the aggregate over the source.
    QuerySpec("q_compaction", graft.sources.Compaction.compactedEvents(_, _), Some(
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type""".stripMargin)),
    QuerySpec("q_time_travel", graft.sources.VersionedTable.timeTravelSummary(_, _), Some(
      """WITH v1 AS (SELECT doc_id, text, source, 1 AS version FROM documents),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
        |    CASE WHEN doc_id % 7 = 0 THEN 'recrawl' ELSE source END AS source,
        |    2 AS version FROM documents),
        |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |SELECT version, source, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
        |FROM u GROUP BY 1, 2""".stripMargin)),
    // the chain's only changes are hot-slice re-crawls, so every feed
    // row is an update with digests the oracle recomputes logically
    QuerySpec("q_cdc_feed", graft.sources.VersionedTable.changeFeed(_, _), Some(
      """SELECT doc_id, 'update' AS op,
        |  md5(text || '|' || source) AS old_digest,
        |  md5(text || ' v2' || '|' || 'recrawl') AS new_digest
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin)),
    // both snapshots recomputed logically: v2 = the re-crawl applied to
    // the hot slice; the ENGINE reads them through version manifests
    // over shared parquet file groups
    // post-vacuum retained versions recomputed logically: v2/v3 = the
    // two successive hot-slice re-crawls; the ENGINE reads them through
    // manifests after retention deleted the unreferenced v1 hot group
    QuerySpec("q_vacuum", graft.sources.VersionedTable.vacuumSummary(_, _), Some(
      """WITH v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
        |    CASE WHEN doc_id % 7 = 0 THEN 'recrawl' ELSE source END AS source,
        |    2 AS version FROM documents),
        |v3 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v3' ELSE text END AS text,
        |    CASE WHEN doc_id % 7 = 0 THEN 'recrawl' ELSE source END AS source,
        |    3 AS version FROM documents),
        |u AS (SELECT * FROM v2 UNION ALL SELECT * FROM v3)
        |SELECT version, source, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
        |FROM u GROUP BY 1, 2""".stripMargin)),
    // write-audit-publish: the published v2 = re-crawled hot slice +
    // reused cold group, audit saw zero violations
    QuerySpec("q_wap", graft.sources.VersionedTable.wapSummary(_, _), Some(
      """WITH v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
        |    CASE WHEN doc_id % 7 = 0 THEN 'recrawl' ELSE source END AS source
        |  FROM documents)
        |SELECT source, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
        |  CAST(0 AS BIGINT) AS audit_violations
        |FROM v2 GROUP BY 1""".stripMargin)),
    // MERGE final state recomputed logically: updates replace the %7
    // slice, deletes drop the disjoint %11 slice, inserts land at +10M
    QuerySpec("q_sql_merge", SqlDml.sqlMerge(_, _), Some(
      """WITH upd AS (SELECT doc_id, upper(text) || ' M' AS text, 'recrawl' AS source
        |  FROM documents WHERE doc_id % 7 = 0),
        |ins AS (SELECT doc_id + 10000000 AS doc_id, text, 'inserted' AS source
        |  FROM documents WHERE doc_id % 13 = 0),
        |kept AS (SELECT doc_id, text, source FROM documents
        |  WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 3),
        |fin AS (SELECT * FROM kept UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT doc_id, source, md5(text) AS digest FROM fin""".stripMargin), scale = true),
    // SQL CDC, net-classified: the MERGE's exact row-level churn —
    // updates carry both images' digests, unchanged rows the COW
    // rewrite merely moved between files appear in NEITHER list
    QuerySpec("q_sql_cdc", SqlDml.sqlCdc(_, _), Some(
      """WITH upd AS (SELECT doc_id, 'update' AS op, md5(text) AS old_digest,
        |    md5(upper(text) || ' M') AS new_digest
        |  FROM documents WHERE doc_id % 7 = 0),
        |del AS (SELECT doc_id, 'delete' AS op, md5(text) AS old_digest,
        |    CAST(NULL AS VARCHAR) AS new_digest
        |  FROM documents WHERE doc_id % 11 = 3 AND doc_id % 7 <> 0),
        |ins AS (SELECT doc_id + 10000000 AS doc_id, 'insert' AS op,
        |    CAST(NULL AS VARCHAR) AS old_digest, md5(text) AS new_digest
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT * FROM upd UNION ALL SELECT * FROM del UNION ALL SELECT * FROM ins""".stripMargin), scale = true),
    // MOR CDC: the tombstone mechanism yields exact delete/insert row
    // pairs for every updated key — old image from the carried base
    // file, new image from the delta file
    QuerySpec("q_sql_cdc_mor", SqlDml.sqlCdcMor(_, _), Some(
      """SELECT doc_id, 'delete' AS _change_type, source, md5(text) AS digest
        |FROM documents WHERE doc_id % 5 = 0
        |UNION ALL
        |SELECT doc_id, 'insert' AS _change_type, 'updated' AS source,
        |  md5(upper(text)) AS digest
        |FROM documents WHERE doc_id % 5 = 0""".stripMargin)),
    // Delta-CDF four-type contract from the same analytic churn: every
    // updated key contributes an update_preimage row (old digest/source)
    // AND an update_postimage row (new digest, source 'recrawl')
    // scale reason, shared with q_partition_evolve:
    // net-change classification and partition evolution are
    // METADATA-bounded like q_sql_cdc (fixture build + changed-file
    // diffs / pruned reads) — swept to prove the flat ratio
    QuerySpec("q_cdc_net", SqlDml.sqlCdcNet(_, _), Some(
      """WITH upd AS (SELECT doc_id, md5(text) AS od, source AS os,
        |    md5(upper(text) || ' M') AS nd, 'recrawl' AS ns
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id, 'update_preimage' AS op, od AS digest, os AS source FROM upd
        |UNION ALL SELECT doc_id, 'update_postimage' AS op, nd, ns FROM upd
        |UNION ALL SELECT doc_id, 'delete' AS op, md5(text), source
        |  FROM documents WHERE doc_id % 11 = 3 AND doc_id % 7 <> 0
        |UNION ALL SELECT doc_id + 10000000 AS doc_id, 'insert' AS op,
        |    md5(text), 'inserted'
        |  FROM documents WHERE doc_id % 13 = 0""".stripMargin), scale = true),
    // full-sync MERGE: after the statement the table IS the source
    QuerySpec("q_sql_merge_source", SqlDml.sqlMergeSource(_, _), Some(
      """WITH src AS (
        |  SELECT doc_id, upper(text) AS text, 'sync' AS source
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 30000000 AS doc_id, text, 'sync_new' AS source
        |  FROM documents WHERE doc_id % 5 = 0)
        |SELECT doc_id, source, md5(text) AS digest FROM src""".stripMargin)),
    QuerySpec("q_sql_update", SqlDml.sqlUpdate(_, _), Some(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 'updated' ELSE source END AS source,
        |  md5(CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END) AS digest
        |FROM documents""".stripMargin), scale = true),
    QuerySpec("q_sql_delete", SqlDml.sqlDelete(_, _), Some(
      """SELECT doc_id, source, CAST(LENGTH(text) AS INTEGER) AS n_chars
        |FROM documents
        |WHERE NOT (doc_id % 3 = 0 AND LENGTH(text) > 50)""".stripMargin)),
    // metadata-only DELETE: the >= 100 file is dropped from the manifest
    // without any data IO — result is exactly the surviving range
    QuerySpec("q_sql_delete_files", SqlDml.sqlDeleteFiles(_, _), Some(
      """SELECT doc_id, source, CAST(LENGTH(text) AS INTEGER) AS n_chars
        |FROM documents WHERE doc_id < 100""".stripMargin)),
    // zero-copy clone: src stays the full corpus; the clone diverged by
    // exactly the two inserted rows — both sides recomputed logically
    QuerySpec("q_sql_clone", SqlDml.sqlClone(_, _), Some(
      """WITH b AS (SELECT doc_id FROM documents)
        |SELECT 'src' AS side, COUNT(*) AS n_rows,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM b
        |UNION ALL
        |SELECT 'clone', COUNT(*) + 2,
        |  CAST(SUM(doc_id) + 1800003 AS BIGINT) FROM b""".stripMargin)),
    // merge-on-read twins of the COW verbs: identical statements and
    // logical results, delta+tombstone physical contract
    QuerySpec("q_sql_delete_mor", SqlDml.sqlDeleteMor(_, _), Some(
      """SELECT doc_id, source, CAST(LENGTH(text) AS INTEGER) AS n_chars
        |FROM documents
        |WHERE NOT (doc_id % 3 = 0 AND LENGTH(text) > 50)""".stripMargin)),
    QuerySpec("q_sql_update_mor", SqlDml.sqlUpdateMor(_, _), Some(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 'updated' ELSE source END AS source,
        |  md5(CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END) AS digest
        |FROM documents""".stripMargin)),
    QuerySpec("q_sql_merge_mor", SqlDml.sqlMergeMor(_, _), Some(
      """WITH upd AS (SELECT doc_id, upper(text) || ' M' AS text, 'recrawl' AS source
        |  FROM documents WHERE doc_id % 7 = 0),
        |ins AS (SELECT doc_id + 10000000 AS doc_id, text, 'inserted' AS source
        |  FROM documents WHERE doc_id % 13 = 0),
        |kept AS (SELECT doc_id, text, source FROM documents
        |  WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 3),
        |fin AS (SELECT * FROM kept UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT doc_id, source, md5(text) AS digest FROM fin""".stripMargin)),
    // metadata-only ADD COLUMNS then a backfilling UPDATE
    QuerySpec("q_sql_alter_evolve", SqlDml.sqlAlterEvolve(_, _), Some(
      """SELECT doc_id, source, CAST(LENGTH(text) AS INTEGER) AS n_chars
        |FROM documents""".stripMargin)),
    // widening ladder: gen-1 int32 files up-cast on read, gen-2 rows
    // exceed int range — the aggregate spans both generations
    QuerySpec("q_sql_alter_widen", SqlDml.sqlAlterWiden(_, _), Some(
      """WITH u AS (
        |  SELECT source, LENGTH(text) AS n_chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 'wide' AS source, LENGTH(text) + 3000000000 AS n_chars
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT source, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |FROM u GROUP BY source""".stripMargin)),
    // ADD COLUMN ... DEFAULT: pre-ADD rows surface the EXISTENCE
    // default, omitted-column INSERTs the WRITE default, explicit
    // NULLs stay NULL
    QuerySpec("q_sql_add_default", SqlDml.sqlAddDefault(_, _), Some(
      """WITH u AS (
        |  SELECT doc_id, 'orig' AS band, 'standard' AS tier
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, 'late-omit', 'standard'
        |  FROM documents WHERE doc_id % 4 = 1
        |  UNION ALL
        |  SELECT doc_id, 'late-explicit',
        |    CASE WHEN doc_id % 8 = 3 THEN NULL ELSE 'premium' END
        |  FROM documents WHERE doc_id % 4 = 3)
        |SELECT band, tier, COUNT(*) AS n,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_id
        |FROM u GROUP BY band, tier""".stripMargin)),
    // constraint DDL ladder: one rejected write (n_rejected=1), the
    // rest of the rows reconstruct from documents + the post-drop row
    QuerySpec("q_sql_constraint_ddl", SqlDml.sqlConstraintDdl(_, _), Some(
      """WITH u AS (
        |  SELECT doc_id, LENGTH(text) AS n_chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, LENGTH(text)
        |  FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL SELECT 9000002, 0)
        |SELECT CAST(1 AS BIGINT) AS n_rejected, COUNT(*) AS n_rows,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars
        |FROM u""".stripMargin)),
    // orphan audit: fixture plants exactly one uncommitted group whose
    // row count reconstructs from documents
    QuerySpec("q_sql_orphans", SqlDml.sqlOrphanAudit(_, _), Some(
      """SELECT CAST(1 AS INTEGER) AS orphan_groups,
        |  CAST(1 AS INTEGER) AS live_groups,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 13 = 0) AS orphan_rows
        |""".stripMargin)),
    // atomic replace: both generations reconstruct from documents
    QuerySpec("q_sql_replace_table", SqlDml.sqlReplaceTable(_, _), Some(
      """SELECT (SELECT COUNT(*) FROM documents WHERE doc_id % 3 = 0) AS n_before,
        |  COUNT(*) AS n_after,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
        |  CAST(COUNT(DISTINCT UPPER(source)) AS BIGINT) AS n_src
        |FROM documents WHERE doc_id % 3 <> 0""".stripMargin)),
    // truncate: empty head, fresh inserts land, the tagged snapshot
    // stays readable through retention
    QuerySpec("q_sql_truncate", SqlDml.sqlTruncate(_, _), Some(
      """SELECT CAST(0 AS BIGINT) AS n_after_truncate,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 4 = 1) AS n_now,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0) AS n_tagged
        |""".stripMargin)),
    // MERGE WITH SCHEMA EVOLUTION: the source's lang column grows the
    // target schema; untouched old rows null-backfill it on read
    QuerySpec("q_sql_merge_evolve", SqlDml.sqlMergeEvolve(_, _), Some(
      """WITH upd AS (
        |  SELECT doc_id, 'evolved' AS source,
        |    CASE WHEN doc_id % 3 = 0 THEN 'en'
        |         WHEN doc_id % 3 = 1 THEN 'de' ELSE 'fr' END AS lang,
        |    md5(upper(text)) AS digest
        |  FROM documents WHERE doc_id % 4 = 0),
        |kept AS (
        |  SELECT doc_id, source, CAST(NULL AS VARCHAR) AS lang,
        |    md5(text) AS digest
        |  FROM documents WHERE doc_id % 4 <> 0),
        |ins AS (
        |  SELECT doc_id + 50000000 AS doc_id, 'evolved_new' AS source,
        |    CASE WHEN doc_id % 3 = 0 THEN 'en'
        |         WHEN doc_id % 3 = 1 THEN 'de' ELSE 'fr' END AS lang,
        |    md5(text) AS digest
        |  FROM documents WHERE doc_id % 9 = 0)
        |SELECT * FROM upd UNION ALL SELECT * FROM kept
        |UNION ALL SELECT * FROM ins""".stripMargin), scale = true),
    // INSERT OVERWRITE resets to the %4=0 slice; INSERT INTO appends the
    // shifted %4=1 slice — final state recomputed logically
    QuerySpec("q_sql_insert", SqlDml.sqlInsert(_, _), Some(
      """WITH base AS (SELECT doc_id, text, source FROM documents WHERE doc_id % 4 = 0),
        |app AS (SELECT doc_id + 20000000 AS doc_id, upper(text) AS text,
        |  'appended' AS source FROM documents WHERE doc_id % 4 = 1),
        |fin AS (SELECT * FROM base UNION ALL SELECT * FROM app)
        |SELECT doc_id, source, md5(text) AS digest FROM fin""".stripMargin)),
    // CALL vacuum retained versions 2 and 3 of the maintenance chain and
    // deleted exactly one group (hot_v1); both retained snapshots
    // recomputed logically
    QuerySpec("q_sql_vacuum", SqlDml.sqlVacuum(_, _), Some(
      """WITH v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
        |    CASE WHEN doc_id % 7 = 0 THEN 'recrawl' ELSE source END AS source,
        |    2 AS version FROM documents),
        |v3 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v3' ELSE text END AS text,
        |    CASE WHEN doc_id % 7 = 0 THEN 'recrawl' ELSE source END AS source,
        |    3 AS version FROM documents),
        |u AS (SELECT * FROM v2 UNION ALL SELECT * FROM v3)
        |SELECT version, source, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
        |  1 AS deleted_groups
        |FROM u GROUP BY 1, 2""".stripMargin)),
    // CALL expire_versions dropped v1+v2 (committed before v3's
    // instant), deleting their two hot groups; v3 retained and its
    // content recomputed logically; the cold group survives by reference
    QuerySpec("q_sql_expire", SqlDml.sqlExpire(_, _), Some(
      """WITH v3 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v3' ELSE text END AS text,
        |    CASE WHEN doc_id % 7 = 0 THEN 'recrawl' ELSE source END AS source
        |  FROM documents)
        |SELECT source, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
        |  2 AS expired_versions, 2 AS deleted_groups, 1 AS retained_versions
        |FROM v3 GROUP BY 1""".stripMargin)),
    // clustered COW update + zone-map-pruned range scan: pruning must
    // be invisible to results — the final state recomputed logically
    QuerySpec("q_zonemap_scan", SqlDml.sqlZonedTable(_, _), Some(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'zoned' ELSE source END AS source,
        |  md5(CASE WHEN doc_id % 2 = 0 THEN upper(text) ELSE text END) AS digest
        |FROM documents
        |WHERE doc_id BETWEEN 100 AND 299""".stripMargin), scale = true),
    // CALL optimize compacted the 8-file group into one file without
    // touching a row: content identical to the corpus
    QuerySpec("q_sql_optimize", SqlDml.sqlOptimize(_, _), Some(
      """SELECT source, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
        |  8 AS files_before, 1 AS files_after
        |FROM documents GROUP BY 1""".stripMargin)),
    // SQL time travel == the Scala-API q_time_travel oracle: both
    // snapshots recomputed logically, the engine reads VERSION AS OF
    QuerySpec("q_sql_time_travel", SqlDml.sqlTimeTravel(_, _), Some(
      """WITH v1 AS (SELECT doc_id, text, source, 1 AS version FROM documents),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
        |    CASE WHEN doc_id % 7 = 0 THEN 'recrawl' ELSE source END AS source,
        |    2 AS version FROM documents),
        |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |SELECT version, source, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
        |FROM u GROUP BY 1, 2""".stripMargin)),
    // wall-clock spelling: same two snapshots bound by commit instant
    QuerySpec("q_sql_time_travel_ts", SqlDml.sqlTimeTravelTs(_, _), Some(
      """WITH v1 AS (SELECT doc_id, text, source, 1 AS version FROM documents),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
        |    CASE WHEN doc_id % 7 = 0 THEN 'recrawl' ELSE source END AS source,
        |    2 AS version FROM documents),
        |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |SELECT version, source, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
        |FROM u GROUP BY 1, 2""".stripMargin)),
    // tags resolve to the same two snapshots as the numeric spelling
    QuerySpec("q_sql_tags", SqlDml.sqlTags(_, _), Some(
      """WITH v1 AS (SELECT doc_id, text, source, 1 AS version FROM documents),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
        |    CASE WHEN doc_id % 7 = 0 THEN 'recrawl' ELSE source END AS source,
        |    2 AS version FROM documents),
        |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |SELECT version, source, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
        |FROM u GROUP BY 1, 2""".stripMargin)),
    // branch lifecycle: main after fast-forward = corpus + both branch
    // commits; the version arithmetic and the isolation row count are
    // pinned as literal columns
    QuerySpec("q_branch_merge", SqlDml.sqlBranch(_, _), Some(
      """WITH final AS (
        |  SELECT source, text FROM documents
        |  UNION ALL SELECT 'backfill' AS source, text FROM documents WHERE doc_id % 9 = 0
        |  UNION ALL SELECT 'backfill' AS source, text FROM documents WHERE doc_id % 9 = 1),
        |c AS (SELECT COUNT(*) AS main_rows_during_branch FROM documents)
        |SELECT source, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
        |  CAST(1 AS INT) AS fork_version, CAST(3 AS INT) AS merged_head,
        |  CAST(2 AS INT) AS promoted_commits, main_rows_during_branch
        |FROM final CROSS JOIN c
        |GROUP BY source, main_rows_during_branch""".stripMargin)),
    // MERGE on a branch then fast-forward: the SAME final state as
    // q_sql_merge — one oracle, two commit paths (main COW vs branch
    // COW + promotion)
    QuerySpec("q_branch_dml", SqlDml.sqlBranchDml(_, _), Some(
      """WITH upd AS (SELECT doc_id, upper(text) || ' M' AS text, 'recrawl' AS source
        |  FROM documents WHERE doc_id % 7 = 0),
        |ins AS (SELECT doc_id + 10000000 AS doc_id, text, 'inserted' AS source
        |  FROM documents WHERE doc_id % 13 = 0),
        |kept AS (SELECT doc_id, text, source FROM documents
        |  WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 3),
        |fin AS (SELECT * FROM kept UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT doc_id, source, md5(text) AS digest FROM fin""".stripMargin)),
    // MOR branch DML: same three-arm MERGE and final state as
    // q_branch_dml, landed as a branch-local tombstone+delta line and
    // fast-forwarded (meta files promote verbatim)
    QuerySpec("q_branch_mor", SqlDml.sqlBranchMor(_, _), Some(
      """WITH upd AS (SELECT doc_id, upper(text) || ' M' AS text, 'recrawl' AS source
        |  FROM documents WHERE doc_id % 7 = 0),
        |ins AS (SELECT doc_id + 10000000 AS doc_id, text, 'inserted' AS source
        |  FROM documents WHERE doc_id % 13 = 0),
        |kept AS (SELECT doc_id, text, source FROM documents
        |  WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 3),
        |fin AS (SELECT * FROM kept UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT doc_id, source, md5(text) AS digest FROM fin""".stripMargin), scale = true),
    // rollback: head content = the pre-DELETE corpus, restored as v3
    QuerySpec("q_rollback", SqlDml.sqlRollback(_, _), Some(
      """SELECT source, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
        |  CAST(1 AS INT) AS restored_from, CAST(3 AS INT) AS head_version
        |FROM documents GROUP BY source""".stripMargin)),
    // cherry-pick: final corpus = base ⊎ the stranded 'cherry' append,
    // promoted back onto the rolled-back head by manifest writes alone
    QuerySpec("q_cherrypick", SqlDml.sqlCherrypick(_, _), Some(
      """WITH app AS (SELECT doc_id + 20000000 AS doc_id, upper(text) AS text,
        |    'cherry' AS source FROM documents WHERE doc_id % 5 = 1),
        |allr AS (SELECT doc_id, text, source FROM documents
        |  UNION ALL SELECT * FROM app)
        |SELECT source, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
        |  CAST(2 AS INT) AS picked_from, CAST(1 AS INT) AS added_groups,
        |  CAST(4 AS INT) AS head_version
        |FROM allr GROUP BY source""".stripMargin)),
    // metadata tables: history rows pin version/group/row totals the
    // manifests + footers report; the oracle derives the same numbers
    // from the corpus and the chain's construction rules
    QuerySpec("q_meta_history", SqlDml.sqlMetaHistory(_, _), Some(
      """SELECT 1 AS version, 2 AS n_groups,
        |  CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS total_rows
        |UNION ALL
        |SELECT 2 AS version, 2 AS n_groups,
        |  CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS total_rows""".stripMargin)),
    // files metadata composed with VERSION AS OF: both versions share
    // files/cold_v1 by reference; each owns its hot group
    QuerySpec("q_meta_files", SqlDml.sqlMetaFiles(_, _), Some(
      """SELECT 1 AS version, 'files/cold_v1' AS group_path,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents WHERE doc_id % 7 <> 0
        |UNION ALL
        |SELECT 1, 'files/hot_v1', CAST(COUNT(*) AS BIGINT)
        |FROM documents WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT 2, 'files/cold_v1', CAST(COUNT(*) AS BIGINT)
        |FROM documents WHERE doc_id % 7 <> 0
        |UNION ALL
        |SELECT 2, 'files/hot_v2', CAST(COUNT(*) AS BIGINT)
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin)),
    // tags metadata: two fixed refs created by the query itself
    QuerySpec("q_meta_tags", SqlDml.sqlMetaTags(_, _), Some(
      """SELECT 'pretrain-v1' AS tag, 1 AS version
        |UNION ALL
        |SELECT 'release' AS tag, 2 AS version""".stripMargin)),
    // SHOW BRANCHES metadata table: the deterministic two-branch state
    QuerySpec("q_meta_branches", SqlDml.sqlMetaBranches(_, _), Some(
      """SELECT 'audit' AS branch, CAST(1 AS INT) AS fork_version,
        |  CAST(0 AS INT) AS head_commits
        |UNION ALL
        |SELECT 'wip', CAST(1 AS INT), CAST(1 AS INT)""".stripMargin)),
    // snapshot profile drift: both versions recomputed logically, the
    // four integer metrics and their deltas
    QuerySpec("q_profile_drift", (s, d) => Quality.profileDrift(s, d), Some(
      """WITH v1 AS (SELECT text, source FROM documents),
        |v2 AS (SELECT CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
        |       CASE WHEN doc_id % 7 = 0 THEN 'recrawl' ELSE source END AS source
        |       FROM documents),
        |p1 AS (SELECT COUNT(*) AS c, CAST(SUM(LENGTH(text)) AS BIGINT) AS ch,
        |       CAST(COUNT(DISTINCT source) AS BIGINT) AS ds,
        |       CAST(SUM(CASE WHEN source = 'recrawl' THEN 1 ELSE 0 END) AS BIGINT) AS rc
        |       FROM v1),
        |p2 AS (SELECT COUNT(*) AS c, CAST(SUM(LENGTH(text)) AS BIGINT) AS ch,
        |       CAST(COUNT(DISTINCT source) AS BIGINT) AS ds,
        |       CAST(SUM(CASE WHEN source = 'recrawl' THEN 1 ELSE 0 END) AS BIGINT) AS rc
        |       FROM v2)
        |SELECT 'row_count' AS metric, p1.c AS v1, p2.c AS v2, p2.c - p1.c AS delta FROM p1, p2
        |UNION ALL SELECT 'total_chars', p1.ch, p2.ch, p2.ch - p1.ch FROM p1, p2
        |UNION ALL SELECT 'distinct_sources', p1.ds, p2.ds, p2.ds - p1.ds FROM p1, p2
        |UNION ALL SELECT 'recrawl_rows', p1.rc, p2.rc, p2.rc - p1.rc FROM p1, p2""".stripMargin)),
    // leave-one-out target encoding: exact integer cents, one division
    // scale: LOO target encode after the r10-verdict fix: groupBy to a
    // handful of category rows + broadcast join back — the scan term
    // rides the factor, the join adds no shuffle of the log
    QuerySpec("q_target_encode", (s, d) => Stats.targetEncode(s, d), Some(
      """SELECT event_id, event_type,
        |  ROUND(CASE WHEN cat_n > 1
        |    THEN CAST(cat_sum - cents AS DOUBLE) / (CAST(cat_n - 1 AS DOUBLE) * 100)
        |    END, 6) AS loo_mean
        |FROM (
        |  SELECT event_id, event_type,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |    SUM(CAST(ROUND(value * 100) AS BIGINT))
        |      OVER (PARTITION BY event_type) AS cat_sum,
        |    COUNT(*) OVER (PARTITION BY event_type) AS cat_n
        |  FROM events)""".stripMargin), scale = true),
    // CUSUM: the integer-scaled fold replayed as a recursive CTE — the
    // q_ewma bit-identical contract, on change-point monitoring
    QuerySpec("q_cusum", (s, d) => Stats.cusumShifts(s, d), Some(
      """WITH RECURSIVE base AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |o AS (
        |  SELECT event_type, hr, n,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS rn,
        |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS total,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS h
        |  FROM base),
        |r AS (
        |  SELECT event_type, hr, n, rn, total, h,
        |    GREATEST(0, n * h - total) AS cusum FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.hr, o.n, o.rn, o.total, o.h,
        |    GREATEST(0, r.cusum + (o.n * o.h - o.total))
        |  FROM r JOIN o ON o.event_type = r.event_type AND o.rn = r.rn + 1)
        |SELECT event_type, hr, n, CAST(cusum AS BIGINT) AS cusum_scaled,
        |  cusum > 2 * total AS alarm
        |FROM r""".stripMargin)),
    // rename text->body reads the ORIGINAL physical bytes under the new
    // name; the dropped-then-re-added source starts fresh and the UPDATE
    // fills it — final state recomputed logically from the corpus
    QuerySpec("q_sql_rename_drop", SqlDml.sqlRenameDrop(_, _), Some(
      """SELECT doc_id, 'refreshed' AS source, md5(upper(text)) AS digest
        |FROM documents""".stripMargin)),
    // CTAS creates + fills the table, INSERT INTO appends — final
    // state recomputed logically
    QuerySpec("q_sql_ctas", SqlDml.sqlCtas(_, _), Some(
      """WITH base AS (SELECT doc_id, upper(text) AS text, source
        |  FROM documents WHERE doc_id % 6 = 0),
        |app AS (SELECT doc_id + 40000000 AS doc_id, text, 'ctas_new' AS source
        |  FROM documents WHERE doc_id % 6 = 3),
        |fin AS (SELECT * FROM base UNION ALL SELECT * FROM app)
        |SELECT doc_id, source, md5(text) AS digest FROM fin""".stripMargin)),
    // narrowed COW: only zone-intersecting files rewritten; boundary
    // rows on both edges of the updated range pin that retained files
    // read back byte-identical
    // scale: narrowed COW: a FIXED key-range update + range read on the
    // clustered table — the verb whose cost must NOT ride the factor
    // (zone maps bind O(matching files) on both the rewrite and the
    // read regardless of corpus size; only the first-touch table build
    // is data-sized)
    QuerySpec("q_cow_narrow", SqlDml.sqlNarrowUpdate(_, _), Some(
      """SELECT doc_id,
        |  CASE WHEN doc_id BETWEEN 100 AND 199 THEN 'narrow' ELSE source END AS source,
        |  md5(CASE WHEN doc_id BETWEEN 100 AND 199 THEN upper(text) ELSE text END) AS digest
        |FROM documents WHERE doc_id BETWEEN 50 AND 249""".stripMargin), scale = true),
    // storage-partitioned join: the bucketed corpus ⋈ annotations join
    // is 1:1 on doc_id, so the whole thing recomputes from one table;
    // the SHUFFLE-FREE plan shape is pinned in SpjSpec
    QuerySpec("q_spj_join", SqlDml.sqlSpjJoin(_, _), Some(
      """SELECT source, CAST(doc_id % 5 AS INTEGER) AS grade, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1, 2""".stripMargin), scale = true),
    // bucket-count evolution: content invariant under the 4→8 rewrite,
    // the old snapshot still counts, and the version arithmetic pins
    QuerySpec("q_rebucket", SqlDml.sqlRebucket(_, _), Some(
      """WITH c AS (SELECT COUNT(*) AS pre_rebucket_rows FROM documents)
        |SELECT source, CAST(doc_id % 5 AS INTEGER) AS grade, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
        |  CAST(4 AS INT) AS old_buckets, CAST(8 AS INT) AS new_buckets,
        |  CAST(2 AS INT) AS new_version, pre_rebucket_rows
        |FROM documents CROSS JOIN c
        |GROUP BY source, CAST(doc_id % 5 AS INTEGER), pre_rebucket_rows""".stripMargin)),
    // partition-spec evolution: the boundary is the integer midpoint of
    // the log's span; the readout spans 6 day-era + 2 hour-era hours,
    // so both write-layout generations feed it. since_version = 3
    // (empty v1, day-era INSERT v2, evolve boundary = v2+1)
    QuerySpec("q_partition_evolve", SqlDml.sqlPartitionEvolve(_, _), Some(
      """WITH ev AS (SELECT event_type,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents, epoch_us(ts) AS ts_us
        |  FROM events),
        |b AS (SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid FROM ev)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents,
        |  MIN(ts_us) AS first_us, MAX(ts_us) AS last_us,
        |  CAST(3 AS INT) AS since_version
        |FROM ev CROSS JOIN b
        |WHERE ts_us >= mid - 6 * 3600000000 AND ts_us < mid + 2 * 3600000000
        |GROUP BY event_type""".stripMargin), scale = true),
    // manifest-level aggregate pushdown: the one-row LocalScan answer
    // must equal the real aggregates over the corpus
    // scale reason, shared with q_runtime_prune:
    // scan-side metadata answers (round-10 final session): agg_pushdown
    // must be ~CONSTANT at any factor (a one-row LocalScan from the
    // sidecar; only the first-touch table build is data-sized);
    // runtime_prune joins a fixed key band, so the pruned fact read is
    // O(band) files while the dim scan grows linearly — the ratio
    // should sit well under the factor
    QuerySpec("q_agg_pushdown", SqlDml.sqlAggPushdown(_, _), Some(
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(doc_id) AS BIGINT) AS n_keys,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents""".stripMargin), scale = true),
    // join-driven runtime file pruning: pruning must be invisible to
    // results — the join recomputed logically (dim flag=0 iff doc_id
    // in the fixed [300, 399] band)
    QuerySpec("q_runtime_prune", SqlDml.sqlRuntimePrune(_, _), Some(
      """SELECT doc_id, source, md5(text) AS digest
        |FROM documents WHERE doc_id BETWEEN 300 AND 399""".stripMargin), scale = true),
    // ALTER TABLE RENAME TO is catalog metadata only: the read under
    // the new name must equal the mutated corpus
    QuerySpec("q_sql_rename_table", SqlDml.sqlRenameTable(_, _), Some(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN 'renamed' ELSE source END AS source,
        |  md5(text) AS digest
        |FROM documents""".stripMargin)),
    // z-ordered layout: 2-D box scan over the Morton-curve table must
    // equal the box recomputed from the raw corpus (pruning is provably
    // invisible — all filters residual)
    // scale: z-ordered 2-D box: the box is RANGE-RELATIVE (~6% of rows at any
    // SF), so the read grows with the corpus but tile pruning holds the
    // bound FILE FRACTION constant — expect well under the factor, not
    // constant (first touch builds the Morton layout)
    QuerySpec("q_zorder_table", SqlDml.sqlZOrderTable(_, _), Some(
      """WITH b AS (SELECT min(event_id) AS xmin, max(event_id) AS xmax,
        |  min(user_id) AS ymin, max(user_id) AS ymax FROM events)
        |SELECT e.event_id, e.user_id, e.event_type FROM events e, b
        |WHERE e.event_id BETWEEN b.xmin + (b.xmax - b.xmin) * 1 // 10
        |                     AND b.xmin + (b.xmax - b.xmin) * 3 // 10
        |  AND e.user_id BETWEEN b.ymin + (b.ymax - b.ymin) * 2 // 10
        |                    AND b.ymin + (b.ymax - b.ymin) * 5 // 10""".stripMargin), scale = true),
    // check-constrained writes: the accepting path's final state
    // recomputed logically (every row satisfied the contract)
    QuerySpec("q_check_constraint", SqlDml.sqlCheckConstraint(_, _), Some(
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  md5(upper(text)) AS digest
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin)),
    // bloom-sidecar point lookup: file skipping must be invisible to
    // results — the probe recomputed from the corpus
    // scale: bloom-sidecar point lookup: 3 fixed keys on a hash layout — the
    // probe binds O(keys) files at any corpus size (only the
    // first-touch table build and the per-file sidecar pass are
    // data-sized)
    QuerySpec("q_bloom_skip", SqlDml.sqlBloomSkip(_, _), Some(
      """SELECT doc_id, source, md5(text) AS digest
        |FROM documents WHERE doc_id IN (10, 25, 99)""".stripMargin), scale = true),
    // retrieval eval: ranking (portable md5 scores) AND metric math
    // (recall@10 / MRR / nDCG@10) replicated exactly — DCG/IDCG terms
    // rounded to 9 and summed as DECIMAL so fold order can't matter
    // bnlj: bounded broadcast query set × candidate pool (eval contract)
    QuerySpec("q_retrieval_eval", RetrievalEval.evalFixture(_, _), Some(
      """WITH q AS (SELECT doc_id AS query_id FROM documents WHERE doc_id % 97 = 0),
        |c AS (SELECT doc_id FROM documents WHERE doc_id % 9 = 0),
        |pairs AS (
        |  SELECT q.query_id, c.doc_id,
        |    CAST(CAST(('0x' || substr(md5(CAST(q.query_id AS VARCHAR) || '_' ||
        |      CAST(c.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS INTEGER) AS score,
        |    CASE WHEN CAST(('0x' || substr(md5('rel_' || CAST(q.query_id AS VARCHAR) || '_' ||
        |      CAST(c.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 7 = 0 THEN 1 ELSE 0 END AS is_rel
        |  FROM c, q),
        |ranked AS (SELECT query_id, doc_id, is_rel,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        |  FROM pairs),
        |nrel AS (SELECT query_id, CAST(SUM(is_rel) AS BIGINT) AS n_rel
        |  FROM pairs GROUP BY query_id),
        |agg AS (SELECT query_id,
        |    CAST(SUM(is_rel) AS BIGINT) AS hits,
        |    MIN(CASE WHEN is_rel = 1 THEN rnk END) AS first_rel,
        |    CAST(SUM(CASE WHEN is_rel = 1
        |      THEN CAST(round(CAST(1 AS DOUBLE)/log2(rnk+1), 9) AS DECIMAL(20,9))
        |      ELSE CAST(0 AS DECIMAL(20,9)) END) AS DOUBLE) AS dcg
        |  FROM ranked WHERE rnk <= 10 GROUP BY query_id)
        |SELECT a.query_id, n.n_rel,
        |  round(CASE WHEN n.n_rel > 0 THEN CAST(a.hits AS DOUBLE) / n.n_rel
        |    ELSE CAST(0 AS DOUBLE) END, 6) AS recall_at_10,
        |  round(COALESCE(CAST(1 AS DOUBLE) / a.first_rel, CAST(0 AS DOUBLE)), 6) AS mrr,
        |  round(CASE WHEN n.n_rel > 0 THEN a.dcg / CAST(list_sum(list_transform(
        |      range(1, CAST(least(n.n_rel, 10) AS INTEGER) + 1),
        |      i -> CAST(round(CAST(1 AS DOUBLE)/log2(i+1), 9) AS DECIMAL(20,9)))) AS DOUBLE)
        |    ELSE CAST(0 AS DOUBLE) END, 6) AS ndcg_at_10
        |FROM agg a JOIN nrel n USING (query_id)""".stripMargin), bnlj = true),
    QuerySpec("q_pr_curve", RetrievalEval.prCurveFixture(_, _), Some(
      """WITH scored AS (SELECT
        |    least(CAST(LENGTH(text) AS DOUBLE) / CAST(1000 AS DOUBLE),
        |      CAST(1 AS DOUBLE)) AS score,
        |    CASE WHEN CAST(('0x' || substr(md5('lbl_' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 3 = 0 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |ts AS (SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS t),
        |g AS (SELECT t,
        |    CAST(SUM(CASE WHEN score >= CAST(t AS DOUBLE)/10 AND label = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN score >= CAST(t AS DOUBLE)/10 AND label = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN score < CAST(t AS DOUBLE)/10 AND label = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM scored, ts GROUP BY t),
        |pr AS (SELECT t, round(CAST(t AS DOUBLE)/10, 6) AS thr, tp, fp, fn,
        |    round(CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE)/(tp+fp)
        |      ELSE CAST(0 AS DOUBLE) END, 6) AS prec,
        |    round(CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)/(tp+fn)
        |      ELSE CAST(0 AS DOUBLE) END, 6) AS rec
        |  FROM g)
        |SELECT t, thr, tp, fp, fn, prec, rec,
        |  round(CASE WHEN prec + rec > 0
        |    THEN CAST(2 AS DOUBLE)*prec*rec/(prec+rec)
        |    ELSE CAST(0 AS DOUBLE) END, 6) AS f1
        |FROM pr""".stripMargin)),
    // threshold sweep: same saturating length score, same md5 labels,
    // same guarded precision/recall/F1 arithmetic — f1 derives from the
    // ROUNDED prec/rec on both sides
    // isotonic calibration: PAV pinned through its max-min
    // characterization — calibrated_i = max over j<=i of (min over
    // k>=i of the pooled rate of bins j..k); IEEE division is
    // correctly rounded and rounding is monotone, so the nested
    // min/max selects the identical block-rate double the PAV fold
    // computes
    QuerySpec("q_isotonic", (s, d) => RetrievalEval.isotonicCalibration(s, d), Some(
      """WITH scored AS (SELECT
        |    least(CAST(LENGTH(text) AS DOUBLE) / CAST(1000 AS DOUBLE),
        |      CAST(1 AS DOUBLE)) AS score,
        |    CASE WHEN CAST(('0x' || substr(md5('lbl_' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 3 = 0 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |b AS (
        |  SELECT CAST(LEAST(FLOOR(score * 50), 49) AS INT) AS bin,
        |    COUNT(*) AS n, CAST(SUM(label) AS BIGINT) AS pos
        |  FROM scored GROUP BY 1),
        |idx AS (
        |  SELECT bin, n, pos,
        |    CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
        |    CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
        |  FROM b),
        |inner_min AS (
        |  SELECT i.bin AS bin_i, j.bin AS bin_j,
        |    MIN(CAST(k.cp - (j.cp - j.pos) AS DOUBLE)
        |        / (k.cn - (j.cn - j.n))) AS minr
        |  FROM idx i
        |  JOIN idx j ON j.bin <= i.bin
        |  JOIN idx k ON k.bin >= i.bin
        |  GROUP BY 1, 2),
        |cal AS (SELECT bin_i AS bin, MAX(minr) AS calibrated
        |  FROM inner_min GROUP BY 1)
        |SELECT b.bin, b.n, b.pos,
        |  ROUND(CAST(b.pos AS DOUBLE) / b.n, 6) AS raw_rate,
        |  ROUND(cal.calibrated, 6) AS calibrated
        |FROM b JOIN cal USING (bin)""".stripMargin)),
    QuerySpec("q_byte_entropy", TextAnalysis.byteEntropy(_, _), Some(
      """WITH pos AS (
        |  SELECT doc_id, text, CAST(unnest(range(1, strlen(text) + 1)) AS INTEGER) AS i
        |  FROM documents),
        |b AS (SELECT doc_id, ascii(substr(text, i, 1)) AS b FROM pos),
        |c AS (SELECT doc_id, b, COUNT(*) AS c FROM b GROUP BY doc_id, b),
        |e AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
        |        SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, round(ln(CAST(n AS DOUBLE)) - clogc / n, 6) AS entropy_nats FROM e""".stripMargin), scale = true),
    // --- streaming -------------------------------------------------------
    // scale reason, shared with q_stream_stateful:
    // streaming replays: the events replica multiplies USERS (new ids per
    // replica), so windowed-aggregate and per-user state-store volume both
    // grow with the factor — this measures the state path, not just the
    // scan (micro-batch machinery is the constant term)
    QuerySpec("q_stream_tumbling", Streaming.tumblingCounts(_, _), Some(
      """SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin), scale = true),
    QuerySpec("q_stream_static_join", Streaming.staticEnrichedSegments(_, _), Some(
      """SELECT c.c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1""".stripMargin)),
    QuerySpec("q_stream_sliding", Streaming.slidingCounts(_, _), Some(
      """SELECT ws AS window_start, COUNT(*) AS n FROM (
        |  SELECT unnest([time_bucket(INTERVAL 5 MINUTE, ts),
        |                 time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE]) AS ws
        |  FROM events) GROUP BY ws""".stripMargin)),
    QuerySpec("q_stream_watermarked", Streaming.watermarkedCounts(_, _), None),
    QuerySpec("q_stream_session", Streaming.sessionCounts(_, _), Some(
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 10 MINUTE
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM o)
        |SELECT MIN(ts) AS session_start, user_id, COUNT(*) AS n FROM s GROUP BY user_id, sid""".stripMargin)),
    // dynamic-gap sessions: end = running MAX of ts + gap(event) — the
    // sweep-line island construction, not the constant-gap lag shortcut
    QuerySpec("q_stream_dyn_session", Streaming.dynamicSessionCounts(_, _), Some(
      """WITH iv AS (SELECT user_id, ts,
        |    ts + CASE WHEN event_type = 'purchase' THEN INTERVAL 30 MINUTE
        |             ELSE INTERVAL 10 MINUTE END AS e
        |  FROM events),
        |m AS (SELECT user_id, ts, e,
        |    CASE WHEN MAX(e) OVER prevw IS NULL OR ts >= MAX(e) OVER prevw
        |      THEN 1 ELSE 0 END AS open
        |  FROM iv
        |  WINDOW prevw AS (PARTITION BY user_id ORDER BY ts
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |i AS (SELECT user_id, ts,
        |    SUM(open) OVER (PARTITION BY user_id ORDER BY ts
        |                    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT MIN(ts) AS session_start, user_id, COUNT(*) AS n
        |FROM i GROUP BY user_id, sid""".stripMargin)),
    QuerySpec("q_stream_stateful", Streaming.statefulUserTotals(_, _), Some(
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
        |FROM events GROUP BY user_id""".stripMargin), scale = true),
    // Same gaps-and-islands oracle as q_stream_session — the custom
    // flatMapGroupsWithState sessionizer must reproduce session_window.
    QuerySpec("q_stream_custom_session", (s, d) => Streaming.customSessionCounts(s, d), Some(
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 10 MINUTE
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM o)
        |SELECT MIN(ts) AS session_start, user_id, COUNT(*) AS n FROM s GROUP BY user_id, sid""".stripMargin)),
    QuerySpec("q_stream_dedup", Streaming.dedupedCounts(_, _), Some(
      "SELECT event_type, COUNT(DISTINCT event_id) AS n FROM events GROUP BY event_type")),
    // Single-data-batch replay: within-watermark dedup sees every copy of
    // a key while its state is live, so the bounded-state form is exact.
    QuerySpec("q_stream_dedup_wm", Streaming.dedupedCountsWithinWatermark(_, _), Some(
      "SELECT event_type, COUNT(DISTINCT event_id) AS n FROM events GROUP BY event_type")),
    // Same final-state-equals-batch contract as q_stream_stateful, on the
    // transformWithState API.
    QuerySpec("q_stream_tws", Streaming.twsUserTotals(_, _), Some(
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
        |FROM events GROUP BY user_id""".stripMargin)),
    // chained 5-min → 15-min aggregation: the sentinel flushes both
    // levels, so the append output equals the batch 15-min counts (the
    // grids are epoch-aligned and 5 | 15)
    QuerySpec("q_stream_chained", Streaming.chainedWindowCounts(_, _), Some(
      """SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS window_start, COUNT(*) AS n
        |FROM events GROUP BY 1""".stripMargin)),
    // timer-closed sessionization: same gaps-and-islands oracle as
    // q_stream_session / q_stream_custom_session — one oracle, THREE
    // state APIs
    QuerySpec("q_stream_timers", (s, d) => Streaming.timerSessionCounts(s, d), Some(
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 10 MINUTE
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM o)
        |SELECT MIN(ts) AS session_start, user_id, COUNT(*) AS n FROM s GROUP BY user_id, sid""".stripMargin)),
    QuerySpec("q_stream_kll", Streaming.streamKllQuantiles(_, _), None),
    // streaming CUSUM: the final streamed state folds IDENTICALLY to
    // this batch recursive CTE — pure integer arithmetic end to end
    QuerySpec("q_stream_cusum", Streaming.streamCusum(_, _), Some(
      """WITH RECURSIVE h AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |o AS (SELECT event_type, hr, CAST(n AS BIGINT) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS rn FROM h),
        |cal AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS base_n,
        |    CAST(COUNT(*) AS BIGINT) AS base_h
        |  FROM o WHERE rn <= 72 GROUP BY 1),
        |r AS (
        |  SELECT o.event_type, o.hr, o.n, o.rn,
        |    GREATEST(0, o.n * c.base_h - c.base_n) AS s
        |  FROM o JOIN cal c USING (event_type) WHERE o.rn = 73
        |  UNION ALL
        |  SELECT o.event_type, o.hr, o.n, o.rn,
        |    GREATEST(0, r.s + (o.n * c.base_h - c.base_n))
        |  FROM r JOIN o ON o.event_type = r.event_type AND o.rn = r.rn + 1
        |  JOIN cal c ON c.event_type = o.event_type)
        |SELECT r.event_type, r.hr, r.n, CAST(r.s AS BIGINT) AS s_plus,
        |  r.s > 4 * c.base_n AS alarm
        |FROM r JOIN cal c ON c.event_type = r.event_type""".stripMargin), scale = true),
    QuerySpec("q_stream_hll", Streaming.streamHllDistinct(_, _), None),
    QuerySpec("q_stream_topk", (s, d) => Streaming.streamTopK(s, d), None, scale = true),
    QuerySpec("q_stream_join", Streaming.purchasesWithRecentSignup(_, _), Some(
      """SELECT p.event_id AS purchase_id, s.event_id AS signup_id, p.user_id AS user_id
        |FROM events p JOIN events s
        |  ON p.user_id = s.user_id
        | AND p.event_type = 'purchase' AND s.event_type = 'signup'
        | AND s.ts >= p.ts - INTERVAL 1 HOUR AND s.ts <= p.ts""".stripMargin)),
    // the sentinel-advanced watermark flushes EVERY outer row, so the
    // streaming append equals the complete batch left join
    QuerySpec("q_stream_join_outer", Streaming.purchasesWithSignupOuter(_, _), Some(
      """SELECT p.event_id AS purchase_id, s.event_id AS signup_id, p.user_id AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id
        | AND s.ts >= p.ts - INTERVAL 1 HOUR AND s.ts <= p.ts""".stripMargin)),
    // left semi: each purchase with ≥1 in-window signup, exactly once —
    // the batch EXISTS formulation
    QuerySpec("q_stream_join_semi", Streaming.purchasesWithSignupSemi(_, _), Some(
      """SELECT p.event_id AS purchase_id, p.user_id AS user_id
        |FROM events p
        |WHERE p.event_type = 'purchase' AND EXISTS (
        |  SELECT 1 FROM events s
        |  WHERE s.event_type = 'signup' AND s.user_id = p.user_id
        |    AND s.ts >= p.ts - INTERVAL 1 HOUR AND s.ts <= p.ts)""".stripMargin)),
    // full outer: both sides' sentinels flush both sides' unmatched
    // state — the append result equals the complete batch full join
    QuerySpec("q_stream_join_full", Streaming.purchasesWithSignupFullOuter(_, _), Some(
      """SELECT p.event_id AS purchase_id, s.event_id AS signup_id,
        |  COALESCE(p.user_id, s.user_id) AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL OUTER JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id
        | AND s.ts >= p.ts - INTERVAL 1 HOUR AND s.ts <= p.ts""".stripMargin)),
    // Stateless streaming append through the parquet file sink emits
    // every row — exactly the batch filter+project.
    QuerySpec("q_stream_file_sink", Streaming.fileSinkPurchases(_, _), Some(
      "SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'")),
    // foreachBatch CDC-apply: the merged table after the full replay is
    // exactly "latest event per user" — the max-merge makes it
    // batch-order-independent, so one QUALIFY reproduces it.
    QuerySpec("q_stream_upsert_sink", Streaming.upsertSinkLatestEvents(_, _), Some(
      """SELECT user_id, event_id AS last_event_id,
        |  CAST(value AS DOUBLE) AS last_value
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) = 1""".stripMargin)),
    // same merge, committed as one manifest version per micro-batch
    // through the versioned-table sink — final state identical
    QuerySpec("q_stream_vt_sink", Streaming.vtSinkLatestEvents(_, _), Some(
      """SELECT user_id, event_id AS last_event_id,
        |  CAST(value AS DOUBLE) AS last_value
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) = 1""".stripMargin)),
    // custom DSv2 streaming source: one micro-batch per commit over the
    // append-only chain; the aggregated stream == the final snapshot
    QuerySpec("q_stream_vt_source", Streaming.vtSourceStream(_, _), Some(
      """SELECT source, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
        |  3 AS n_commits
        |FROM documents GROUP BY 1""".stripMargin)),
    // streaming CDC rollup: batch 1 = all of v1 as inserts (original
    // text), batch 2 = the %7 hot slice re-crawled — old images as
    // deletes, new images (+" v2", 3 chars) as inserts
    QuerySpec("q_stream_cdc", Streaming.cdcSourceStream(_, _), Some(
      """SELECT 1 AS _commit_version, 'insert' AS _change_type,
        |  COUNT(*) AS n, CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
        |FROM documents
        |UNION ALL
        |SELECT 2, 'delete', COUNT(*), CAST(SUM(LENGTH(text)) AS BIGINT)
        |FROM documents WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT 2, 'insert', COUNT(*), CAST(SUM(LENGTH(text) + 3) AS BIGINT)
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin)),
    // the state store read back as a table must equal the batch
    // aggregate over everything the stream consumed
    QuerySpec("q_stream_state_reader", Streaming.stateStoreReader(_, _), Some(
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type""".stripMargin)),
    QuerySpec("q_word_ngrams", (s, d) => TextAnalysis.wordNgrams(s, d), Some(
      s"""WITH docs AS (SELECT doc_id, $toksSql AS t FROM documents),
         |pos AS (SELECT t, unnest(range(1, LEN(t) - 1)) AS i FROM docs WHERE LEN(t) >= 3),
         |grams AS (SELECT t[CAST(i AS INTEGER)] || ' ' || t[CAST(i AS INTEGER) + 1] || ' ' || t[CAST(i AS INTEGER) + 2] AS ngram FROM pos)
         |SELECT ngram, COUNT(*) AS cnt FROM grams GROUP BY ngram
         |ORDER BY cnt DESC, ngram ASC LIMIT 15""".stripMargin)),
    // bnlj: the 1-row corpus count against the tf relation
    QuerySpec("q_tfidf", (s, d) => TextAnalysis.tfidf(s, d), Some(
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
         |dfreq AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT tf.doc_id, tf.token,
         |  round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 4) AS tfidf
         |FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
         |WHERE tf.doc_id < 50""".stripMargin), bnlj = true),
    // --- data-contract / observability tier ------------------------------
    QuerySpec("q_constraints", Quality.constraintSuite(_, _), Some(
      """WITH m AS (
        |  SELECT COUNT(*) AS n_rows,
        |    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_custkey,
        |    COUNT(DISTINCT o_orderkey) AS nd_orderkey,
        |    CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
        |    SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS bad_status,
        |    SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 0 ELSE 1 END) AS bad_priority
        |  FROM orders),
        |o AS (
        |  SELECT COUNT(*) AS n_orphans FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        |SELECT 'size_min' AS check_name, CAST(n_rows AS DOUBLE) AS observed,
        |  1.0 AS threshold, n_rows >= 1 AS passed FROM m
        |UNION ALL SELECT 'complete_custkey',
        |  1.0 - CAST(null_custkey AS DOUBLE) / n_rows, 1.0, null_custkey = 0 FROM m
        |UNION ALL SELECT 'unique_orderkey',
        |  CAST(nd_orderkey AS DOUBLE) / n_rows, 1.0, nd_orderkey = n_rows FROM m
        |UNION ALL SELECT 'min_totalprice', min_price, 0.0, min_price >= 0 FROM m
        |UNION ALL SELECT 'status_domain', CAST(bad_status AS DOUBLE), 0.0,
        |  bad_status = 0 FROM m
        |UNION ALL SELECT 'priority_pattern', CAST(bad_priority AS DOUBLE), 0.0,
        |  bad_priority = 0 FROM m
        |UNION ALL SELECT 'ref_integrity_custkey', CAST(n_orphans AS DOUBLE), 0.0,
        |  n_orphans = 0 FROM o""".stripMargin)),
    QuerySpec("q_observe", Quality.observedPipeline(_, _), Some(
      s"""SELECT COUNT(*) AS n_rows,
         |  CAST(SUM($discPriceSql) AS DOUBLE) AS revenue,
         |  CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_disc
         |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01'""".stripMargin)),
    // --- reference pipeline on the in-repo fan fixture ----------------------
    // Reads fixtures/fan (FIXTURES.md §A5), not the sf tables. The oracle
    // replays the reference semantics in DuckDB over the same files: the
    // `Other` filter, RaceID normalization, the LUT with alias keys only
    // where the canonical long name is a key, the probe-side alias remap,
    // a left join, the fallback struct, and LocationData as to_json text
    // (Verify flattens the struct the same way). The golden-file parity
    // check against the reference's own output lives only in
    // FanPipelineSpec.
    // eager: the country CSV is read on the driver on build
    QuerySpec("q_pipeline_parity", (s, _) =>
      FanPipeline.transform(
        FanPipeline.readEvents(s, s"$fanFixture/input/*fan_engagement-000-of-001.json"),
        CountryLut.df(s, s"$fanFixture/input_side/country_data_v2.csv")), Some(
      s"""WITH alias(alias, canonical) AS (
         |  VALUES ('usa', 'united states'), ('us', 'united states'), ('u.s.', 'united states'),
         |    ('uk', 'united kingdom'), ('uae', 'united arab emirates')),
         |base AS (
         |  SELECT lower(country) AS key_norm, * FROM (
         |    SELECT trim(coalesce(Country, '')) AS country, trim(coalesce(Capital, '')) AS capital,
         |      trim(coalesce(Continent, '')) AS continent,
         |      trim(coalesce(Main_Official_Language, '')) AS official_language,
         |      trim(coalesce(Currency, '')) AS currency
         |    FROM read_csv('fixtures/fan/input_side/country_data_v2.csv',
         |      header = true, delim = ',', quote = '"', all_varchar = true))
         |  WHERE country <> ''),
         |lut AS (
         |  SELECT * FROM base
         |  UNION ALL
         |  SELECT a.alias, b.country, b.capital, b.continent, b.official_language, b.currency
         |  FROM alias a JOIN base b ON b.key_norm = a.canonical),
         |ev AS (
         |  SELECT *, lower(trim(coalesce(ViewerLocationCountry, ''))) AS norm
         |  FROM read_json('fixtures/fan/input/*fan_engagement-000-of-001.json',
         |    format = 'newline_delimited',
         |    columns = {'FanID': 'VARCHAR', 'RaceID': 'VARCHAR', 'Timestamp': 'VARCHAR',
         |               'ViewerLocationCountry': 'VARCHAR', 'DeviceType': 'VARCHAR',
         |               'EngagementMetric_secondswatched': 'BIGINT',
         |               'PredictionClicked': 'BOOLEAN', 'MerchandisingClicked': 'BOOLEAN'})
         |  WHERE trim(coalesce(DeviceType, '')) <> 'Other')
         |SELECT FanID, ${raceIdSql("RaceID")} AS RaceID, Timestamp, DeviceType,
         |  EngagementMetric_secondswatched, PredictionClicked, MerchandisingClicked,
         |  to_json(CASE WHEN l.key_norm IS NOT NULL
         |    THEN {'country': l.country, 'capital': l.capital, 'continent': l.continent,
         |          'official language': l.official_language, 'currency': l.currency}
         |    ELSE {'country': trim(coalesce(ViewerLocationCountry, '')), 'capital': '',
         |          'continent': '', 'official language': '', 'currency': ''} END)::VARCHAR AS LocationData
         |FROM ev LEFT JOIN alias a ON a.alias = ev.norm
         |  LEFT JOIN lut l ON l.key_norm = coalesce(a.canonical, ev.norm)""".stripMargin), eager = true)
  ))
}
