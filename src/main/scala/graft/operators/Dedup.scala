package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deduplication operators for large-scale text corpora (SURVEY §2B,
  * LLM-pipeline family): exact hash dedup, exact n-gram Jaccard on
  * candidate pairs, MinHash+LSH and SimHash near-dedup, embedding
  * near-dup, and connected-component clustering of the resulting pairs.
  *
  * Scale posture: every variant is shuffle-bounded — exact dedup is one
  * hash aggregation on a digest; the near-dup variants generate candidates
  * by shingle/band/bucket join (never an all-pairs product), which is the
  * standard way these run over 100 TB corpora. The `docIdCap` arguments on
  * the *exact pairwise* queries exist only to give the DuckDB oracle a
  * fixed-size all-pairs workload to check against; the LSH paths have no
  * such cap.
  */
object Dedup {

  /** Record linkage by Jaro-Winkler similarity — the entity-resolution
    * verb (match dirty strings back to a canonical dictionary). Every
    * part name gets a DETERMINISTIC "dirty" variant (characters 2 and 3
    * swapped — expressible as the same substr arithmetic in the
    * oracle), then links to its best canonical match: candidates by
    * first-character BLOCKING (an equi-join — similarity only ever
    * computes within a block, never all-pairs), scored by the native
    * codegen'd [[graft.functions.JaroWinkler]] expression (Spark ships
    * levenshtein/soundex but no Jaro-Winkler; its prefix boost is the
    * right metric for names/titles), winner by (sim DESC, clean ASC) —
    * a per-key rank-1 window that WindowGroupLimit prunes below the
    * shuffle. At 100 TB the blocking key is the knob (first char →
    * first token → phonetic key) exactly as in production linkage.
    */
  def linkDirtyNames(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = Tables(spark, dir, "part")
    val dirty = parts.select(col("p_partkey"),
      concat(substring(col("p_name"), 1, 1), substring(col("p_name"), 3, 1),
        substring(col("p_name"), 2, 1), substring(col("p_name"), 4, 1000)).as("dirty"))
      .withColumn("blk", substring(col("dirty"), 1, 1))
    val clean = parts.select(col("p_name").as("clean")).distinct()
      .withColumn("blk", substring(col("clean"), 1, 1))
    val w = Window.partitionBy(col("p_partkey"))
      .orderBy(col("sim").desc, col("clean").asc)
    dirty.join(clean, Seq("blk"))
      .withColumn("sim", graft.functions.JaroWinkler.jaroWinkler(col("dirty"), col("clean")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p_partkey"), col("dirty"), col("clean"),
        round(col("sim"), 6).as("sim"))
  }

  /** Exact duplicate groups by content digest: digest, group size,
    * surviving (minimum) doc_id. One map-side-combined hash agg — the
    * cheapest possible full-corpus dedup.
    */
  def exactDupGroups(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("digest"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
      .filter(col("n") > 1)

  /** Exact dedup survivors: min doc_id per digest. */
  def exactDedupSurvivors(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))

  /** INCREMENTAL dedup against an existing index — the corpus-GROWTH
    * verb: a new crawl batch (genuinely-new documents plus re-crawled
    * copies of already-kept ones) is screened against the kept
    * corpus's content digests, and only content the index has never
    * seen survives. One digest projection on each side + one shuffled
    * LEFT ANTI join keyed on the 16-byte digest — at 100 TB the
    * per-key payload is the digest, not the document, and the join
    * cost scales with |batch| + |index digests|, never re-reading the
    * corpus text twice (a production deployment materializes the index
    * digest column once per snapshot; a bloom pre-filter —
    * [[graft.operators.TextAnalysis.decontaminateBloom]]'s shape —
    * drops the obviously-new keys map-side before the shuffle).
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val index = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .unionByName(index.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 50000000L).as("doc_id"), col("text"),
          lit("recrawl").as("source")))
    batch
      .withColumn("digest", md5(col("text").cast("binary")))
      .join(index.select(md5(col("text").cast("binary")).as("digest")).distinct(),
        Seq("digest"), "left_anti")
      .select(col("doc_id"), col("source"), col("digest"))
  }

  /** Character 15-gram shingles. `distinct = true` gives one row per
    * distinct (doc_id, shingle) — needed for exact Jaccard counting;
    * MinHash skips the dedup shuffle entirely (min over a multiset equals
    * min over its set).
    */
  private def shingles(docs: DataFrame, width: Int = 15, distinct: Boolean = true): DataFrame = {
    // explode the position range first, then slice — Substring with a
    // Column start stays in whole-stage codegen, where a transform() HOF
    // over the same range would run interpreted (CodegenFallback)
    val sh = docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), greatest(length(col("text")) - (width - 1), lit(1)))).as("i"))
      .select(col("doc_id"), col("text").substr(col("i"), lit(width)).as("sh"))
    if (distinct) sh.distinct() else sh
  }

  /** Shared scoring tail of the two exact-Jaccard plans: per-pair shared
    * counts → union sizes → J ≥ tau. ONE copy, because `DedupSpec` pins
    * the plans bit-identical — a formula tweak in a private fork would
    * silently break that invariant (review round).
    */
  private def jaccardScore(shared: DataFrame, counts: DataFrame,
      tau: Double): DataFrame =
    shared
      .join(counts.select(col("doc_id").as("a"), col("n_sh").as("na")), Seq("a"))
      .join(counts.select(col("doc_id").as("b"), col("n_sh").as("nb")), Seq("b"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= tau)
      .select(col("a"), col("b"), col("jaccard"))

  /** Exact n-gram Jaccard similarity over all pairs of a bounded slice
    * (doc_id < 200 at every scale factor — this is the oracle-checkable
    * exact computation; LSH below is the unbounded-scale path). Pairs with
    * J ≥ tau. The shingle equi-join generates only co-shingled pairs.
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String,
      tau: Double = 0.5): DataFrame = {
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 200)
    val sh = shingles(docs).cache()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("doc_id").as("a"), col("sh"))
    val b = sh.select(col("doc_id").as("b"), col("sh"))
    val shared = a.join(b, Seq("sh")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
    jaccardScore(shared, counts, tau)
  }

  /** Prefix-filtered exact Jaccard join (AllPairs/PPJoin prefix filter)
    * — the SAME answer as [[ngramJaccardPairs]] from a plan that
    * survives where the full co-shingle join drowns: shingles sort
    * into a global rarest-first canonical order (frequency asc, value
    * asc), each document keeps only its prefix of length
    * `n − ⌈τ·n⌉ + 1`, and candidate pairs must share a PREFIX shingle
    * — the classical guarantee (two τ-similar sets' prefixes must
    * intersect) makes the filter lossless, while common boilerplate
    * shingles (the co-shingle join's quadratic hot keys) sort to the
    * suffix and never generate candidates. Exact verification then
    * intersects full sets for the candidate pairs only. The
    * percentiles/percentiles_dist pattern applied to dedup: one
    * oracle, two plans, this one bounded. Same bounded doc slice and
    * oracle SQL as [[ngramJaccardPairs]].
    */
  def prefixJaccardPairs(spark: SparkSession, dir: String, tau: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 200)
    val sh = shingles(docs).localCheckpoint()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val freq = sh.groupBy(col("sh")).agg(count(lit(1)).as("f"))
    val ranked = sh.join(freq, "sh")
      .withColumn("r", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("f").asc, col("sh").asc)))
      .join(counts, "doc_id")
      .filter(col("r") <= col("n_sh") - ceil(lit(tau) * col("n_sh")) + 1)
      .select(col("doc_id"), col("sh"))
    val cand = ranked.select(col("doc_id").as("a"), col("sh"))
      .join(ranked.select(col("doc_id").as("b"), col("sh")), Seq("sh"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val shared = cand
      .join(sh.select(col("doc_id").as("a"), col("sh")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("sh")), Seq("b", "sh"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
    jaccardScore(shared, counts, tau)
  }

  /** Edit-distance near-dup tier — the final arbiter of the dedup
    * ladder (exact md5 → shingle Jaccard → MinHash/SimHash → embedding):
    * candidate pairs come from the same co-shingle equi-join (never
    * all-pairs) and must share ≥ `minShared` distinct shingles — one
    * common 15-gram is a boilerplate-grade signal that would send
    * unrelated documents into the O(n·m) DP — and the expensive exact
    * Levenshtein runs only on that candidate set, keeping pairs whose
    * edit distance is ≤ `maxFrac` of the longer text. A pre-filter
    * drops candidates whose LENGTH difference alone already exceeds the
    * budget (|len(a)−len(b)| is a Levenshtein lower bound) before any
    * DP runs. Bounded slice for the oracle, same contract as
    * [[ngramJaccardPairs]]; at scale the candidate tier swaps to
    * MinHash banding and this refinement stage is unchanged.
    */
  def fuzzyEditPairs(spark: SparkSession, dir: String, maxFrac: Double = 0.2,
      minShared: Int = 10): DataFrame = {
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 200)
    val sh = shingles(docs)
    val candidates = sh.select(col("doc_id").as("a"), col("sh"))
      .join(sh.select(col("doc_id").as("b"), col("sh")), Seq("sh"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("a"), col("b"))
    val texts = docs.select(col("doc_id"), col("text"))
    val budget = floor(greatest(length(col("ta")), length(col("tb"))) * maxFrac).cast("int")
    candidates
      .join(texts.select(col("doc_id").as("a"), col("text").as("ta")), Seq("a"))
      .join(texts.select(col("doc_id").as("b"), col("text").as("tb")), Seq("b"))
      .filter(abs(length(col("ta")) - length(col("tb"))) <= budget)
      .select(col("a"), col("b"),
        levenshtein(col("ta"), col("tb")).as("edit_dist"), budget.as("budget"))
      .filter(col("edit_dist") <= col("budget"))
      .select(col("a"), col("b"), col("edit_dist"))
  }

  // ---------------------------------------------------------------- MinHash

  private val MinhashK = 64
  private val LshBands = 16 // 16 bands × 4 rows
  private val LshRows = MinhashK / LshBands
  // 2^31-1: keeps a*h + b < 2^63 (ANSI mode would error on long overflow)
  private val MinhashPrime = 2147483647L

  /** Deterministic per-hash affine coefficients (seeded — reproducible
    * across runs and partitionings).
    */
  private lazy val (coefA, coefB) = {
    val rnd = new scala.util.Random(42)
    val a = Array.fill(MinhashK)(math.abs(rnd.nextLong()) % (MinhashPrime - 1) + 1)
    val b = Array.fill(MinhashK)(math.abs(rnd.nextLong()) % MinhashPrime)
    (a, b)
  }

  /** Flat signature table: doc_id + K scalar columns m0..m63, one per
    * permutation minimum. Kept flat (not an array) on purpose: 64 long
    * columns cache columnarly for ~nothing, while caching an
    * ArrayType(long) column costs seconds of nested-encoding work at
    * sf0.1 — measured 3.9 s vs ~0.1 s — and flat columns keep every
    * downstream comparison inside whole-stage codegen.
    *
    * Since r13 the BASE hash is PORTABLE — the 60-bit md5 prefix of the
    * shingle mod the Mersenne prime, instead of Spark-private xxhash64
    * — while the K permutations stay the seeded affine family
    * `(a_j·h + b_j) mod p` (Kirsch–Mitzenmacher double hashing was
    * tried and REJECTED: its K minima are pairwise correlated, and on
    * small shingle sets the Jaccard estimate collapsed — 0.25 against
    * an exact 0.54 on DedupSpec's near-dup fixture, where the affine
    * family reads 0.55). A DuckDB oracle replays every signature (the
    * coefficients interpolate into the SQL as literals), band key, and
    * candidate pair — q_minhash_neardups moved from rows-only to
    * hash-matched. The K minima still come from ONE
    * [[graft.functions.MinHashSketch]] aggregate pass (primitive
    * long[K] buffer — no K-buffer generated aggregate for janino).
    */
  private def minhashFlat(docs: DataFrame): DataFrame =
    minhashFlatBase(docs, md5BaseHash)

  /** The production portable base hash: 60-bit md5 prefix of the shingle. */
  private[graft] val md5BaseHash: Column => Column =
    sh => conv(substring(md5(sh.cast("binary")), 1, 15), 16, 10).cast("long")

  /** The PRE-r13 base hash (Spark-private xxhash64) — kept only as the
    * differential baseline for DedupSpec's estimator-quality regression
    * guard: the portable-hash migration must not degrade near-dup recall
    * vs the construction it replaced (the Kirsch–Mitzenmacher rejection
    * shows this family can silently collapse).
    */
  private[graft] val xxBaseHash: Column => Column = sh => xxhash64(sh)

  private[graft] def minhashFlatBase(docs: DataFrame, baseHash: Column => Column): DataFrame = {
    val hashed = shingles(Tables.spread(docs), distinct = false)
      .select(col("doc_id"),
        pmod(baseHash(col("sh")), lit(MinhashPrime)).as("h"))
    hashed.groupBy(col("doc_id"))
      .agg(graft.functions.MinHashSketch.sketch(col("h"), MinhashPrime, coefA, coefB).as("sig"))
      .select(col("doc_id") +: (0 until MinhashK).map(i =>
        element_at(col("sig"), i + 1).as(s"m$i")): _*)
  }

  /** The affine-permutation coefficients, exposed so the DuckDB oracle
    * can interpolate the identical literals (the seed is fixed; the
    * arrays are a deterministic constant of the build).
    */
  private[graft] def minhashCoefs: (Array[Long], Array[Long]) = (coefA, coefB)
  private[graft] def minhashPrime: Long = MinhashPrime

  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashFlat(docs).select(col("doc_id"),
      array((0 until MinhashK).map(i => col(s"m$i")): _*).as("sig"))

  /** MinHash + LSH near-duplicate candidate pairs with estimated Jaccard
    * ≥ threshold. Banding: signature split into 16 bands of 4; docs
    * sharing any band-key become candidates (equi-join on (band, key) —
    * never an all-pairs product); estimate = fraction of equal signature
    * positions. The band key is the 60-bit md5 prefix of the band's
    * comma-joined minima — 8 shuffled bytes like the old Spark `hash()`
    * bucket, but ENGINE-REPLICABLE (a collision merges the same pair on
    * both sides), so the whole pair set hash-matches the DuckDB oracle;
    * ScalaTest additionally pins recall against exact Jaccard.
    */
  def minhashNearDups(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    nearDupPairs(Tables(spark, dir, "documents"), md5BaseHash, threshold)

  /** [[minhashNearDups]] parameterized by the base hash family — the
    * production path always passes [[md5BaseHash]]; DedupSpec runs the
    * same pipeline under [[xxBaseHash]] to pin recall parity across the
    * r13 portable-hash migration. Band keys stay md5 in BOTH variants so
    * the differential isolates the base-hash family's estimator quality.
    */
  private[graft] def nearDupPairs(docs: DataFrame, baseHash: Column => Column,
      threshold: Double): DataFrame = {
    val flat = minhashFlatBase(docs, baseHash).cache()
    // Candidate generation over NARROW rows — only (doc_id, band, bucket)
    // travels through the band shuffle; signatures rejoin afterwards, so
    // the 16× banding blow-up never duplicates the 64-column payload.
    val banded = flat.select(
      col("doc_id"),
      posexplode(array((0 until LshBands).map { b =>
        val cat = concat_ws(",",
          (b * LshRows until (b + 1) * LshRows).map(i => col(s"m$i")): _*)
        conv(substring(md5(cat.cast("binary")), 1, 15), 16, 10).cast("long")
      }: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val cand = banded.as("l")
      .join(banded.as("r"), Seq("band", "bucket"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .filter(col("a") < col("b"))
      .distinct()
    // Position-match count as a flat codegen'd sum — the zip_with/
    // aggregate HOF formulation runs interpreted (CodegenFallback).
    val matches = (0 until MinhashK)
      .map(i => (col(s"A.m$i") === col(s"B.m$i")).cast("int"))
      .reduce(_ + _)
    cand
      .join(flat.as("A"), col("a") === col("A.doc_id"))
      .join(flat.as("B"), col("b") === col("B.doc_id"))
      .withColumn("est_jaccard", matches.cast("double") / MinhashK)
      .filter(col("est_jaccard") >= threshold)
      .select(col("a"), col("b"), col("est_jaccard"))
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash per document from portable md5-packed token hashes
    * (two 32-bit md5 halves packed as `(h1 << 32) | h2` since r13 —
    * bit-for-bit replayable by the SQL oracle, so the query is
    * hash-matched): bit j of the fingerprint is the sign of
    * Σ_tokens (±1 on bit j of the token hash).
    * The 64 bit-sums are flat scalar aggregates over one hash column —
    * codegen'd, map-side combined (no per-token array materialization).
    */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    val tokens = docs.select(
      col("doc_id"),
      explode(filter(split(col("text"), "\\s+"), t => t =!= "")).as("tok"))
    // one primitive-buffer aggregate instead of 64 declarative sums —
    // see functions.SimHashSketch (identical bits, no 64-buffer codegen).
    // The 64-bit token hash is PORTABLE since r13: the two 32-bit md5
    // halves packed as (h1 << 32) | h2 — bit-for-bit replayable by the
    // DuckDB oracle, which moved q_simhash_neardups to hash-matched.
    tokens
      .withColumn("d", md5(col("tok").cast("binary")))
      .select(col("doc_id"),
        shiftleft(conv(substring(col("d"), 1, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(col("d"), 9, 8), 16, 10).cast("long")).as("h"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SimHashSketch.sketch(col("h")).as("simhash"))
  }

  /** SimHash near-dup pairs: Hamming distance ≤ maxDist, candidates via
    * 4×16-bit band buckets (a pair within distance 3 must agree on at
    * least one of 4 bands — pigeonhole). Oracle-checked since r13 (the
    * md5-packed token hash above makes every fingerprint replayable).
    */
  def simhashNearDups(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val fp = simhashFingerprints(docs).cache()
    val banded = fp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val l = banded.select(col("band"), col("bucket"), col("doc_id").as("a"), col("simhash").as("fa"))
    val r = banded.select(col("band"), col("bucket"), col("doc_id").as("b"), col("simhash").as("fb"))
    l.join(r, Seq("band", "bucket")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("fa"), col("fb")).distinct()
      .withColumn("hamming", bit_count(col("fa").bitwiseXOR(col("fb"))))
      .filter(col("hamming") <= maxDist)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Near-duplicate clusters: connected components over the similarity
    * edge set, by iterative min-label propagation — the step that turns
    * pairwise near-dup hits into "keep one per cluster" decisions.
    *
    * Scale posture: each round is one edge⋈label join + min-aggregate
    * (all shuffle-bounded, no driver-side graph); rounds needed =
    * O(component diameter), which for near-dup clusters is tiny. The
    * driver loop only checks a convergence count. Edges here are the
    * exact n-gram Jaccard pairs on the bounded oracle slice; singleton
    * docs keep their own id as cluster.
    */
  def dupClusters(spark: SparkSession, dir: String, maxRounds: Int = 20): DataFrame = {
    // Candidate generation stays distributed (the co-shingle join); the
    // component fold does NOT: this query's node set is the ≤200-doc
    // oracle slice BY CONSTRUCTION, so the edge list is |slice|²-bounded
    // and the r13 bounded-model rule applies (q_pagerank/q_hits: when
    // the iteration's state is schema- or slice-bounded, fold it on the
    // driver instead of paying a join + localCheckpoint + convergence
    // aggregate per round — the rounds were pure scheduling cost).
    // Union-find with min-id relabel produces the identical fixpoint as
    // min-label propagation (components are unique; the label is the
    // component min either way — the shared recursive-CTE oracle pins
    // it). The FULL-corpus cluster queries (dupClustersLsh, semantic)
    // keep the distributed loop: their edge lists scale with the data.
    val nodes = Tables(spark, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val edges = ngramJaccardPairs(spark, dir).select(col("a"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = nodes.map(id => (id, find(id)))
    import spark.implicits._
    labels.toSeq.toDF("doc_id", "cluster")
  }

  /** Keep-BEST dedup — the decision step a real curation run makes after
    * clustering: per near-dup cluster, keep the member with the highest
    * quality score (tie-break: lower doc_id). Production dedup keeps the
    * best exemplar, not the first-seen; this composes [[dupClusters]]
    * with `TextAnalysis.qualityScore` to close that loop.
    *
    * The argmax is a struct-max aggregate — O(1) state per cluster with
    * map-side partials (struct comparison is field-ordered, so
    * (quality, -doc_id) max IS "best quality, then lowest id") — never a
    * per-cluster sort or window over the cluster's members.
    */
  def clusterRepresentatives(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dupClusters(spark, dir)
    val quality = graft.operators.TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    clusters.join(quality, Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("quality_score"), (-col("doc_id")).as("neg_id"))).as("b"))
      .select(col("cluster"), col("cluster_size"),
        (-col("b.neg_id")).as("rep_id"), col("b.quality_score").as("rep_quality"))
  }

  /** Full-corpus near-dup clusters: connected components over the
    * MinHash-LSH edge set — the composition a real dedup run needs
    * (unbounded candidate generation feeding the keep-one-per-cluster
    * decision). Hash-matched since r13: the MinHash edges ride the
    * portable md5-prefix base hashes, so the oracle replays the LSH
    * candidate set and the min-label propagation exactly; cluster
    * consistency vs the exact-Jaccard clusters is additionally pinned
    * in `DedupSpec`.
    */
  def dupClustersLsh(
      spark: SparkSession, dir: String,
      threshold: Double = 0.5, maxRounds: Int = 20): DataFrame =
    connectedComponents(
      Tables(spark, dir, "documents").select(col("doc_id")),
      minhashNearDups(spark, dir, threshold).select(col("a"), col("b")),
      maxRounds)

  /** Min-label propagation over an undirected edge list (`a`,`b`) until
    * fixpoint. Every node in `nodes` gets a cluster label (singletons keep
    * their own id).
    */
  private def connectedComponents(
      nodes: DataFrame, pairDf: DataFrame, maxRounds: Int): DataFrame = {
    // Symmetrize with ONE in-row explode instead of a self-union (r15):
    // the union's two branches each re-executed the pair-generation
    // lineage, which forced a second cache (pairs) just to stop the
    // double execution — the explode reads each pair once, so only the
    // edge relation needs pinning.
    val edges = pairDf.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")).cache()
    // Iterate over EDGE-TOUCHED nodes only: a singleton has no neighbor,
    // so its label provably never changes — carrying the full node set
    // through every round's join/checkpoint/convergence pass paid the
    // whole corpus per round for rows the loop cannot touch. Touched
    // nodes are |edges|-bounded (still distributed — at 100 TB the edge
    // set scales with the data); singletons rejoin once at the end via
    // a left join + coalesce(label, self). Identical fixpoint.
    var labels = edges.select(col("u").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster")).cache()
    // labels only ever decrease, so the label sum is strictly monotone
    // until fixpoint — comparing sums detects convergence with one tiny
    // aggregate per round instead of a self-join diff
    // coalesce: the touched set can be EMPTY (no pair above threshold —
    // semantic dedup at a high τ), and sum over zero rows is NULL
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("cluster")), lit(0L))).head().getLong(0)
    // No dedicated init-sum action (r15): the first round's sum can never
    // equal the sentinel, so convergence detection is unchanged and the
    // loop saves one full job. (Round 1 always changes some label on a
    // non-empty edge set — every edge's max-id endpoint adopts a smaller
    // min — so the round count is identical too; an empty edge set
    // converges in round 2 at sum 0, where it previously converged in
    // round 1 after the init action: same number of jobs.)
    var prevSum = Long.MinValue
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("doc_id", "v"), Seq("v"))
        .groupBy(col("u")).agg(min(col("cluster")).as("nbr_min"))
        .withColumnRenamed("u", "doc_id")
      // localCheckpoint (not cache): TRUNCATES the lineage, so round N's
      // plan is one join over materialized labels instead of embedding
      // rounds 1..N-1 — without it, analysis + codegen grow per round
      // and the driver becomes the bottleneck long before the data does.
      // LAZY (eager=false) since r15: the convergence sum right below
      // touches every partition and therefore IS the round's
      // materialization barrier — the eager flag ran a second full job
      // per round for nothing (superseded round RDDs are still freed by
      // the ContextCleaner)
      val next = labels
        .join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"))
        .localCheckpoint(false)
      val s = labelSum(next)
      labels.unpersist()
      labels = next
      converged = s == prevSum
      prevSum = s
      round += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxRounds rounds — a component's " +
          "diameter exceeds the bound; raise maxRounds (labels would be wrong, not partial)")
    nodes.select(col("doc_id"))
      .join(labels.withColumnRenamed("cluster", "touched_cluster"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("touched_cluster"), col("doc_id")).as("cluster"))
  }

  /** SemDeDup-style semantic dedup at corpus scale: near-duplicate
    * EMBEDDING pairs from the banded ANN self-join (no all-pairs product,
    * no bounded slice — this is the unbounded-scale twin of
    * [[embeddingNearDups]]), thresholded at `threshold` cosine, clustered
    * by the same min-label propagation the text tiers use, keeping the
    * lowest vec_id per cluster. Output: every vector with its cluster
    * label and keep/drop decision — the curation verdict a semantic
    * dedup pass feeds downstream.
    *
    * HASH-MATCHED since r14: the DuckDB oracle replays the full chain —
    * the ANN self-join core (literal seeded hyperplanes, self-scaling
    * bits, mirrored-pair cosine), the ≥ τ edge filter on the identical
    * doubles, and min-label clustering as a transitive-closure
    * recursive CTE (the q_dedup_clusters_lsh device). The banding's ONE
    * approximation stays bounded and spec-pinned: LSH can miss a pair —
    * but at 0.999 cosine the per-bit agreement is ≈1−θ/π ≈ 0.9986, so
    * missing all 8 independent tables is ~1e-18, and the spec asserts
    * 100% pair recall vs the exact bounded computation.
    * (The first cut routed edges through the top-k self-join, paying an
    * O(n × occupancy) ranking shuffle AND a k-cap approximation for a
    * ranking this verb never uses; the 10× sweep showed that tail
    * dominating, so edges now come from [[Similarity.annEdges]] — the
    * ≥ τ filter runs map-side in the scoring stage and only the rare
    * qualifying edges move.)
    */
  def semanticDedup(spark: SparkSession, dir: String,
      threshold: Double = 0.999, maxRounds: Int = 20): DataFrame = {
    // thresholded edge path, NOT the top-k self-join: dedup needs every
    // pair above τ, not a ranking — the ≥ τ filter runs map-side inside
    // the scoring stage (only the rare edges shuffle) and the former
    // k-cap approximation disappears with the ranking state it paid for
    val edges = Similarity.annEdges(spark, dir, threshold)
      .select(col("a_id").as("a"), col("b_id").as("b"))
    val nodes = Tables(spark, dir, "embeddings").select(col("vec_id").as("doc_id"))
    connectedComponents(nodes, edges, maxRounds)
      .select(col("doc_id").as("vec_id"), col("cluster"),
        (col("doc_id") === col("cluster")).as("keep"))
  }

  /** Embedding near-duplicates: cosine similarity ≥ 0.999 over a bounded
    * slice (vec_id < 300) — exact all-pairs for the oracle; the ANN path
    * for unbounded scale is [[Similarity.annCosine]].
    */
  def embeddingNearDups(spark: SparkSession, dir: String, threshold: Double = 0.999): DataFrame = {
    import graft.functions.VectorFunctions.{dot, sqNorm}
    val emb = Tables(spark, dir, "embeddings").filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"), sqrt(sqNorm(col("embedding"))).as("norm"))
    val a = emb.select(col("vec_id").as("a"), col("embedding").as("ea"), col("norm").as("na"))
    val b = emb.select(col("vec_id").as("b"), col("embedding").as("eb"), col("norm").as("nb"))
    a.crossJoin(b).filter(col("a") < col("b"))
      .withColumn("dot", dot(col("ea"), col("eb")))
      .withColumn("cosine", col("dot") / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** Portable MinHash signatures — the md5-keyed twin of
    * [[minhashSignatures]]: xxhash64 (the fast path) is Spark-private,
    * so those signatures only compare WITHIN this engine; a
    * cross-system dedup — two corpora sketched by different stacks,
    * signatures exchanged instead of text — needs a hash both sides can
    * reproduce, and md5 is the house portable contract (same property
    * that made `q_countmin` the one SQL-reproducible sketch; here it
    * makes MinHash the one HASH-MATCHED near-dup sketch, where the
    * xxhash64 tier is rows-only).
    *
    * Permutation family: DOUBLE HASHING (Kirsch–Mitzenmacher) — ONE md5
    * per distinct shingle, split into two 32-bit words `h1`/`h2`
    * (hex digits 1-8 and 9-16), permutation j valued `h1 + j·h2`
    * (max < 2^36, overflow-free in BIGINT on both engines). The first
    * cut keyed md5 per PERMUTATION (`md5("j:"||sh)`, k=16 digests per
    * shingle) and was the single most expensive query in the r8 bench
    * at 24 s — 8× the xxhash64 twin — for zero statistical benefit:
    * two independent words drive k derived permutations exactly as
    * well. Re-measured ~4 s. Shape is unchanged: one shingle explode,
    * k mins map-side combined in ONE aggregate, |docs| × k output rows.
    */
  def minhashSigExact(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    // distinct = false: MIN over a multiset equals MIN over its set, so
    // the per-(doc, shingle) DISTINCT the oracle states is REDUNDANT
    // under the min aggregate — dropping it removes the only wide
    // operation on shingle strings (a |corpus chars|-row shuffle); the
    // KM mins combine map-side and only k longs per doc cross the wire.
    val sh = shingles(Tables.spread(Tables(spark, dir, "documents")), distinct = false)
      .withColumn("d", md5(col("sh").cast("binary")))
      .select(col("doc_id"), struct(
        conv(substring(col("d"), 1, 8), 16, 10).cast("long").as("h1"),
        conv(substring(col("d"), 9, 8), 16, 10).cast("long").as("h2")).as("hh"))
    // ONE MinHashKmSketch aggregate pass instead of k declarative mins
    // (identical minima; no k-buffer generated aggregate for janino)
    sh.groupBy(col("doc_id"))
      .agg(graft.functions.MinHashSketch.sketchKm(col("hh"), k).as("sig"))
      .select(col("doc_id"), posexplode(col("sig")))
      .select(col("doc_id"), col("pos").as("perm"), col("col").as("minhash"))
  }
}
