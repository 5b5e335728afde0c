package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis operators for training-data pipelines (SURVEY §2B):
  * tokenization + term frequencies, per-document token statistics,
  * heuristic language ID, quality scoring, and content fingerprinting.
  * Everything is built from codegen'd built-ins / higher-order functions —
  * no UDFs — so the per-document work is embarrassingly parallel and the
  * only shuffles are the final aggregations.
  */
object TextAnalysis {

  /** GROUP-integrity split assignment — the leakage-free counterpart of
    * [[deterministicSplit]]: the md5-bucket draw happens at the USER
    * level and every event of a user inherits it, so no user's history
    * straddles train/val/test (the classic leakage bug: an entity's
    * early rows in train and late rows in test lets the model memorize
    * the entity — sklearn's GroupShuffleSplit exists for exactly this).
    * The user-level split relation is |users|-sized and broadcastable;
    * the event log takes it by one equi-join. Same md5 contract as
    * every sampling oracle.
    */
  def groupSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = graft.functions.GraftFunctions.md5Bucket(col("user_id"))
    val userSplit = Tables(spark, dir, "events").select(col("user_id")).distinct()
      .select(col("user_id"),
        when(bucket < 9800, "train").when(bucket < 9900, "val").otherwise("test")
          .as("split"))
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"))
      .join(broadcast(userSplit), Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("split"))
  }

  /** The composed curation pipeline — quality gate → exact dedup →
    * deterministic split → token count, END TO END in one DataFrame
    * program: the proof that the corpus verbs COMPOSE (each exists as
    * its own oracle-checked query; a real ingestion run chains them
    * exactly like this). Shapes: pushed-down scan filters, one
    * digest aggregate, a key-only LEFT SEMI back-join, then pure
    * projections — the chain adds no shuffle beyond the dedup's own.
    */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val gated = Tables(spark, dir, "documents")
      .filter(col("lang") === "en" && col("n_chars") >= 100)
    val keep = gated
      .groupBy(md5(col("text").cast("binary")).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val bucket = graft.functions.GraftFunctions.md5Bucket(col("doc_id"))
    gated.join(keep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        when(bucket < 9800, "train").when(bucket < 9900, "val").otherwise("test")
          .as("split"),
        size(tokens(col("text"))).as("n_tokens"))
  }

  /** Whitespace tokens with empties dropped (split on `\s+` leaves a
    * leading "" for texts with leading whitespace — filter it).
    */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Corpus-wide top-20 terms, deterministic tie-break (count desc, token
    * asc). Explode → map-side-combined count → top-k: the classic word
    * count, shuffle is |vocabulary|-sized, not corpus-sized.
    */
  def topTokens(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** The hashing trick — fixed-dimension sparse featurization with NO
    * vocabulary pass: each token maps straight to `md5(token) % dim`,
    * so featurization is one stateless projection per document —
    * embarrassingly parallel, no fitted dictionary to broadcast, no
    * OOV problem, and new corpus shards featurize identically forever
    * (the property that matters when 100 TB arrives incrementally).
    * Output is the sparse relational form `(doc_id, bucket, tf)` —
    * rows = nonzero features only; downstream models consume it as-is
    * or pivot locally. Same md5 contract as the split/sampling family,
    * so the DuckDB oracle rebuilds the exact buckets.
    */
  def featureHash(spark: SparkSession, dir: String, dim: Int = 64): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .withColumn("bucket", graft.functions.GraftFunctions.md5Bucket(col("token"), dim))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("tf"))

  /** Bigram language-model counts — the conditional table
    * `P(w2 | w1) = c(w1,w2) / c(w1,·)` over adjacent token pairs, the
    * statistic behind next-token baselines, collocation mining, and
    * corpus-similarity diagnostics. Pairs come from zipping each
    * document's token array with its own tail (pure array arithmetic,
    * no positional self-join — the same shape that kept
    * [[cooccurrencePmi]] off the quadratic path); both count relations
    * are map-side-combined and |vocab|-bounded. The denominator is
    * c(w1, ·) = times w1 occurs in FIRST position, the standard bigram
    * MLE. Output is cut at pair count ≥ 3 to keep the table the
    * high-signal head (the cut is on exact integers, so it's the same
    * rows on both engines); probability is one mirrored double ratio.
    */
  def bigramLm(spark: SparkSession, dir: String, minCount: Int = 3): DataFrame = {
    val t = tokens(col("text"))
    val pairs = Tables(spark, dir, "documents")
      .select(explode(zip_with(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val c12 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    c12.filter(col("c12") >= minCount)
      .join(c1, Seq("w1"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        round(col("c12").cast("double") / col("c1"), 6).as("p"))
  }

  /** Bigram-LM QUALITY SCORING — the CCNet-style filter: score every
    * document's mean token log-probability under a corpus bigram model
    * and keep/bucket by the score (gibberish and boilerplate sit far
    * from the corpus distribution; this is the standard LM-based
    * quality screen run before pretraining). Complements [[bigramLm]]
    * (which SHIPS the model): here the model is built AND applied in
    * one job — Laplace-smoothed `P(w2|w1) = (c12+1)/(c1+V)` — with the
    * model relation bounded by |vocabulary|², broadcast to a map-side
    * scoring join over the corpus pair stream. Per-doc totals use the
    * house cross-engine decimal-sum contract (round-9 → DECIMAL sum →
    * round-6), so the scores hash-match exactly. At 100 TB: two
    * map-side-combined count passes build the model, one broadcast
    * join scores — no corpus-sized shuffle anywhere.
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val t = tokens(col("text"))
    val docPairs = Tables.spread(Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(zip_with(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
    val c12 = docPairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    // c1 and V derive from the |vocab|²-bounded c12 relation instead of
    // re-tokenizing the corpus: c1(w1) = Σ_w2 c12(w1,w2) exactly (every
    // pair is counted once in each), and V = |distinct w1| = |c1 rows|
    // via an unpartitioned window over the |vocab|-bounded c1 relation.
    // Same integers, two fewer corpus scans (4 → 2 in the physical plan;
    // guide §2.4 — remove redundant passes outright).
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val wAll = Window.partitionBy()
    val model = c12.join(c1.withColumn("v", count(lit(1)).over(wAll)), Seq("w1"))
      .select(col("w1"), col("w2"),
        log((col("c12") + 1).cast("double") / (col("c1") + col("v"))).as("lp"))
    docPairs.join(broadcast(model), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("lp"), 9).cast(DecimalType(38, 9))).as("slp"))
      .select(col("doc_id"), col("n_pairs"),
        round(col("slp").cast("double") / col("n_pairs"), 6).as("avg_logprob"))
  }

  /** DSIR-style importance resampling (Data Selection via Importance
    * Resampling, Xie et al. 2023): score every RAW-pool document by how
    * much more likely its hashed-n-gram features are under a TARGET
    * domain's distribution than under the raw pool's, and keep the
    * target-like documents — the principled replacement for "filter by
    * a quality heuristic" when what you actually want is "more data
    * that looks like this domain".
    *
    * Features are the [[featureHash]] buckets (md5(token) % dim — no
    * fitted vocabulary, shards featurize identically forever). Both
    * bucket distributions are Laplace-smoothed exact integer counts;
    * each document's log importance weight is the sum over its token
    * OCCURRENCES of `ln(p_target(b) / p_raw(b))` under the house
    * decimal-sum contract (round-9 → DECIMAL(38,9) sum → round-6), so
    * scores hash-match across engines. Deterministic keep rule:
    * mean log weight > 0 (more target-like than raw-like); the paper's
    * Gumbel-noise resampling replaces the threshold in production,
    * orthogonal to everything distributed here.
    *
    * 100 TB shape: two map-side-combined bucket counts (dim-bounded),
    * one dim-row broadcast of the weight table, one map-side scoring
    * pass — no corpus-sized shuffle anywhere, same skeleton as
    * [[lmScore]].
    */
  def dsirResample(spark: SparkSession, dir: String, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val isTarget = col("source").isin("src0", "src1")
    val tok = Tables.spread(Tables(spark, dir, "documents")
        .select(col("doc_id"), isTarget.as("is_target"), col("text")))
      .select(col("doc_id"), col("is_target"),
        explode(tokens(col("text"))).as("token"))
      .withColumn("bucket", graft.functions.GraftFunctions.md5Bucket(col("token"), dim))
    val counts = tok.groupBy(col("bucket"))
      .agg(sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
        sum(when(!col("is_target"), 1L).otherwise(0L)).as("cr"))
    // corpus totals = Σ over the dim-bounded bucket relation (every
    // token occurrence lands in exactly one bucket), computed as an
    // unpartitioned window over the ≤ dim rows — the third corpus
    // tokenize+explode pass the separate `tok.agg(...)` subtree cost is
    // gone (3 → 2 scans; guide §2.4). Same exact longs.
    val wAll = Window.partitionBy()
    val weights = counts
      .withColumn("nt", sum(col("ct")).over(wAll))
      .withColumn("nr", sum(col("cr")).over(wAll))
      .select(col("bucket"),
        log(((col("ct") + 1).cast("double") / (col("nt") + dim)) /
          ((col("cr") + 1).cast("double") / (col("nr") + dim))).as("lw"))
    tok.filter(!col("is_target"))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(round(col("lw"), 9).cast(DecimalType(38, 9))).as("slw"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("slw").cast("double") / col("n_tokens"), 6).as("avg_logweight"))
      .withColumn("keep", col("avg_logweight") > 0)
  }

  /** Per-document token statistics: counts, distincts, mean token length
    * (null for empty docs — no divide-by-zero).
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_distinct"),
      when(size(t) > 0,
        aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(t))
        .otherwise(lit(null)).as("avg_token_len"))
  }

  private val EnStop = Seq("the", "a", "of", "and", "to", "in", "is")
  private val EsStop = Seq("el", "la", "de", "y", "que", "en", "los")

  /** Heuristic n-gram/stopword language ID: count distinctive stopword
    * hits per language; CJK codepoints short-circuit to "zh". Deliberately
    * simple and fully deterministic (oracle-checkable); a production
    * pipeline would swap in a fastText-style model via the same column
    * contract.
    */
  def languageId(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(lower(col("text")))
    val enHits = size(filter(t, x => x.isin(EnStop.map(s => s: Any): _*)))
    val esHits = size(filter(t, x => x.isin(EsStop.map(s => s: Any): _*)))
    val hasCjk = length(regexp_replace(col("text"), "[^\\x{4e00}-\\x{9fff}]", "")) > 0
    Tables(spark, dir, "documents").select(
      col("doc_id"), col("lang").as("labeled_lang"),
      enHits.as("en_hits"), esHits.as("es_hits"),
      when(hasCjk, "zh")
        .when(esHits > enHits, "es")
        .otherwise("en").as("pred_lang"))
  }

  /** Quality scoring: char/token counts, punctuation + uppercase ratios,
    * and a composite keep/drop score in [0,1] — the usual cheap pre-filter
    * before expensive model-based scoring.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val nChars = length(col("text"))
    val nPunct = nChars - length(regexp_replace(col("text"), "[.,;:!?'\"()\\-]", ""))
    val nUpper = nChars - length(regexp_replace(col("text"), "[A-Z]", ""))
    val punctRatio = when(nChars > 0, nPunct.cast("double") / nChars).otherwise(0.0)
    val upperRatio = when(nChars > 0, nUpper.cast("double") / nChars).otherwise(0.0)
    val lenScore = when(size(t) >= 10 && size(t) <= 1000, 1.0).otherwise(0.0)
    val score = (lenScore
      + when(punctRatio <= 0.2, 1.0).otherwise(0.0)
      + when(upperRatio <= 0.3, 1.0).otherwise(0.0)) / 3.0
    Tables(spark, dir, "documents").select(
      col("doc_id"), nChars.as("n_chars"), size(t).as("n_tokens"),
      punctRatio.as("punct_ratio"), upperRatio.as("upper_ratio"),
      score.as("quality_score"))
  }

  /** GOPHER-STYLE RULE FILTER (Rae et al. 2021 §A1.1, the canonical
    * pretraining quality gate every pipeline reimplements): per
    * document, the named RULE OUTCOMES — word count in [5, 10⁵], mean
    * word length in [3, 10], ≥80% of words containing an alphabetic
    * character, duplicate-token ratio < 0.5 — plus the conjunction as
    * `passes`. Where [[qualityScore]] SCORES, this verb FILTERS with
    * the published thresholds (the word-count floor adapted from 50 to
    * this corpus's short synthetic docs; the adaptation is the point —
    * the thresholds are config, the rule shapes are the operator).
    * Everything is exact integer counting and one rounded ratio per
    * rule; one codegen'd scan, no shuffle.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t)
    val meanLen = when(nTok > 0,
      (length(col("text")) - (nTok - 1)).cast("double") / nTok.cast("double"))
    val nAlpha = size(filter(t, w => w.rlike("[A-Za-z]")))
    val alphaFrac = when(nTok > 0, nAlpha.cast("double") / nTok.cast("double"))
    val dupRatio = when(nTok > 0,
      lit(1.0) - size(array_distinct(t)).cast("double") / nTok.cast("double"))
    val wordCountOk = nTok >= 5 && nTok <= 100000
    val meanLenOk = meanLen >= 3.0 && meanLen <= 10.0
    val alphaOk = alphaFrac >= 0.8
    val dupOk = dupRatio < 0.5
    Tables(spark, dir, "documents").select(
      col("doc_id"), nTok.as("n_tokens"),
      round(meanLen, 6).as("mean_word_len"),
      round(alphaFrac, 6).as("alpha_word_frac"),
      round(dupRatio, 6).as("dup_token_ratio"),
      wordCountOk.as("word_count_ok"), meanLenOk.as("mean_len_ok"),
      alphaOk.as("alpha_ok"), dupOk.as("dup_ok"),
      (wordCountOk && meanLenOk && alphaOk && dupOk).as("passes"))
  }

  /** WORD-N-GRAM REPETITION READOUT (the Gopher repetition family,
    * Rae et al. 2021 §A1.1, occurrence-fraction variant): per document,
    * the share of bigram occurrences claimed by the single most
    * frequent bigram (`top_bigram_frac` — boilerplate/chorus detector)
    * and the share of trigram occurrences whose gram appears more than
    * once (`dup_trigram_frac` — degenerate-loop detector). Gopher
    * gates at top-2-gram ≤ 0.20 and dup-3-gram ≤ 0.18 on character
    * fractions; the occurrence-fraction thresholds here are the same
    * dials. The top bigram itself rides along with a DETERMINISTIC
    * tie-break (lexicographically smallest among the max-count grams),
    * so both engines publish identical rows.
    *
    * Scale shape: explode → one map-side-combined (doc, gram) count →
    * per-doc aggregate; the shuffle carries distinct (doc, gram) rows
    * (≤ tokens), never positions. Docs under 3 tokens publish NULL
    * fractions (no grams to rate — a policy row, not a crash).
    */
  def ngramRepetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
    // guard: Spark's sequence(1, stop) DESCENDS when stop < 1, so short
    // docs must short-circuit to an empty gram list
    def gramCounts(n: Int): DataFrame = docs
      .select(col("doc_id"), explode(expr(
        s"case when size(t) >= $n then transform(sequence(1, size(t) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(t, i, $n))) " +
          "else array() end")).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
    // per-doc window: partition = one document's distinct grams —
    // bounded by doc length, never corpus-wide
    val wDoc = Window.partitionBy(col("doc_id"))
    val bi = gramCounts(2)
      .withColumn("mxw", max(col("c")).over(wDoc))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("mx"),
        min(when(col("c") === col("mxw"), col("gram"))).as("top_bigram"))
    val tri = gramCounts(3).groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_trigrams"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_occ"))
    docs.select(col("doc_id"))
      .join(bi, Seq("doc_id"), "left")
      .join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("top_bigram"),
        round(when(col("n_bigrams") > 0,
          col("mx").cast("double") / col("n_bigrams").cast("double")), 6)
          .as("top_bigram_frac"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        round(when(col("n_trigrams") > 0,
          col("dup_occ").cast("double") / col("n_trigrams").cast("double")), 6)
          .as("dup_trigram_frac"))
  }

  /** COMPRESSION-RATIO QUALITY PROXY (the third Gopher-family
    * repetition dial after rules and n-gram shares): DEFLATE each
    * document at a FIXED level and publish compressed/raw — machine-
    * generated boilerplate and degenerate loops compress far below
    * natural prose, so corpus teams gate on this exactly like the
    * n-gram fractions (cf. Rae et al. 2021 §A1.1's repetition family;
    * CCNet/RedPajama ship the same dial as a fastText/zlib hybrid).
    *
    * Executor-local per-row codec work — the audio-codec class: one
    * Deflater per row (stateless, no JVM-global provider lookup —
    * verified unlike `AudioSystem`), input spread by
    * [[graft.sources.Tables.spread]] because the cost is CPU-bound
    * bytes, not splits. Rows-only by design (the DEFLATE bitstream is a
    * zlib implementation detail no SQL engine replays); the spec pins
    * determinism, the worst-case expansion bound, and the
    * more-repetition-compresses-better direction.
    */
  def compressionRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.spread(Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .map { case (id, text) =>
        val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val d = new java.util.zip.Deflater(6, false)
        d.setInput(raw)
        d.finish()
        // zlib worst case ≈ raw + 5 bytes per 16 KiB block + header
        val buf = new Array[Byte](raw.length + raw.length / 1000 + 64)
        var off = 0
        while (!d.finished() && off < buf.length)
          off += d.deflate(buf, off, buf.length - off)
        d.end()
        (id, raw.length.toLong, off.toLong)
      }
      .toDF("doc_id", "n_bytes", "n_deflate")
      .select(col("doc_id"), col("n_bytes"), col("n_deflate"),
        round(when(col("n_bytes") > 0,
          col("n_deflate").cast("double") / col("n_bytes").cast("double")), 6)
          .as("deflate_ratio"))
  }

  /** SOURCE×SOURCE CONTAMINATION MATRIX — cross-slice leakage: for
    * every source pair, how many distinct 15-char shingles they share
    * (and the Jaccard of their shingle sets). THE reading before
    * splitting sources into train/eval: a pair with high overlap
    * cannot sit on opposite sides of the split. Scale shape: shingles
    * collapse to (shingle-key, source) DISTINCT rows, each shingle
    * carries at most |sources| rows (bounded, ~20), pairs explode
    * WITHIN a shingle's source set only — never doc×doc. Set sizes
    * broadcast back for the Jaccard. The shuffled key is the first 60
    * bits of md5(shingle) as a BIGINT — ~2× fewer shuffle bytes than
    * the raw 15-char string, and ENGINE-REPLICABLE (the oracle casts
    * the same hex prefix), so even a 60-bit collision would merge the
    * same shingles on both sides.
    */
  def sourceOverlap(spark: SparkSession, dir: String, w: Int = 15): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .filter(length(col("text")) >= w)
    // ONE explode pass + ONE shuffle (map-side partial collect_set on
    // the shingle key IS the distinct; both downstream branches read
    // the same materialization)
    val grouped = Tables.spread(docs)
      .select(col("source"), col("text"),
        explode(sequence(lit(1), length(col("text")) - (w - 1))).as("i"))
      .select(col("source"),
        expr(s"CAST(conv(substring(md5(substring(text, i, $w)), 1, 15), 16, 10) AS BIGINT)")
          .as("sh"))
      .groupBy(col("sh"))
      .agg(collect_set(col("source")).as("srcs"))
    // NO localCheckpoint (r15): both consumers (sizes, pairs) meet in
    // the one final query, where runtime exchange reuse computes the
    // shingle aggregate once — while the former eager pin materialized
    // the |shingles|-row relation into executor storage (~GBs at
    // sf0.1), whose eviction/GC pressure in a warm JVM was the
    // measured 1.7 s ↔ 16 s bimodality in every full-board bench
    val sizes = grouped.select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val pairs = grouped
      .filter(size(col("srcs")) >= 2)
      .select(explode(expr(
        "flatten(transform(srcs, (a, i) -> transform(slice(srcs, i + 2, size(srcs)), b -> struct(least(a, b) as sa, greatest(a, b) as sb))))"))
        .as("p"))
      .select(col("p.sa").as("src_a"), col("p.sb").as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_shingles"))
    pairs
      .join(broadcast(sizes.withColumnRenamed("source", "src_a")
        .withColumnRenamed("n_sh", "n_a")), Seq("src_a"))
      .join(broadcast(sizes.withColumnRenamed("source", "src_b")
        .withColumnRenamed("n_sh", "n_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_shingles"),
        col("n_a"), col("n_b"),
        round(col("shared_shingles").cast("double") /
          (col("n_a") + col("n_b") - col("shared_shingles")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Corpus-wide word trigram counts, top 15 (count desc, ngram asc).
    * Positions exploded with `sequence` + `element_at` — codegen'd, no
    * array-HOF fallback. Docs under 3 tokens contribute nothing.
    */
  def wordNgrams(spark: SparkSession, dir: String, n: Int = 3, k: Int = 15): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= n)
    docs
      .select(col("t"), explode(sequence(lit(1), size(col("t")) - (n - 1))).as("i"))
      .select(concat_ws(" ",
        (0 until n).map(j => element_at(col("t"), col("i") + j)): _*).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram").asc)
      .limit(k)
  }

  /** TF-IDF per (document, term) over a bounded doc slice (oracle-sized;
    * the computation itself is corpus-wide and shuffle-bounded: one
    * (doc,term) aggregation, one |vocab| aggregation, one broadcast of the
    * single corpus-size row). Scores rounded to 4 dp so the ln() libm
    * rounding difference between engines cannot surface.
    */
  def tfidf(spark: SparkSession, dir: String, docCap: Int = 50): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .filter(col("doc_id") < docCap)
      .select(col("doc_id"), col("token"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4).as("tfidf"))
  }

  /** BM25 relevance scores for a fixed term query — the retrieval verb
    * on top of the [[tfidf]] statistics (Robertson/Okapi with the
    * Lucene-style non-negative idf `ln((N - df + 0.5)/(df + 0.5) + 1)`).
    * Per-document term frequencies only materialize for the query terms
    * (the `isin` filter sits under the aggregation), document-frequency
    * and corpus stats are |terms|- and 1-row broadcasts, so the heavy
    * relation is the narrow (doc, term, tf) slice — at 100 TB this is
    * one token scan plus a |matching docs| aggregation, nothing
    * vocabulary-wide. `avgdl` stays engine-exact because token counts
    * are integers and their double sum is exact below 2^53.
    */
  def bm25(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("hash", "join", "scan"),
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("t"), size(col("t")).cast("double").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("t")).as("token"))
      .filter(col("token").isin(terms.map(s => s: Any): _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 4).as("bm25"))
  }

  /** RECIPROCAL RANK FUSION — the hybrid-retrieval verb: fuse the
    * lexical ([[bm25]], same fixed query terms) and semantic (cosine to
    * the query embedding, vec_id 0 — `embeddings.vec_id` is the
    * embedding of `documents.doc_id`, the correspondence the semantic
    * tiers share) rankings into one list by
    * `RRF(d) = Σ_arms 1/(k + rank_arm(d))`, the standard score-free
    * fusion (ranks compose across incomparable score scales; k=60 per
    * the original formulation).
    *
    * Scale shape: each arm ends in a distributed top-N
    * (`TakeOrderedAndProject` — no global-sort window ever sees the
    * corpus); ranks are then assigned by a window over the N-row
    * candidate list, whose single partition is BOUNDED BY CHOICE (N),
    * not by data. The fusion itself is a full-outer join of two N-row
    * relations. Cross-engine exactness: the lexical arm ranks on the
    * ROUNDED bm25 (4 dp — the granularity the oracle pins) with doc_id
    * tiebreak; the semantic arm ranks on raw cosine per the knn_brute
    * contract; absent ranks surface as 0, not NULL (nullable ints decay
    * to float64 in the oracle's result path — the dtype-skew lesson).
    */
  def rrfHybrid(spark: SparkSession, dir: String,
      k: Int = 60, topN: Int = 100): DataFrame = {
    import graft.functions.VectorFunctions.{dot, sqNorm}
    val lexTop = bm25(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(topN)
    val lex = lexTop.withColumn("r_lex", row_number().over(
      Window.orderBy(col("bm25").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("r_lex"))
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), sqrt(sqNorm(col("embedding"))).as("norm"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val semTop = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .withColumn("cosine", when(col("norm") * col("q_norm") === 0d, 0d)
        .otherwise(dot(col("embedding"), col("q_emb")) / (col("norm") * col("q_norm"))))
      .orderBy(col("cosine").desc, col("vec_id").asc).limit(topN)
    val sem = semTop.withColumn("r_sem", row_number().over(
      Window.orderBy(col("cosine").desc, col("vec_id").asc)))
      .select(col("vec_id").as("doc_id"), col("r_sem"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_lex"), lit(0)).as("r_lex"),
        coalesce(col("r_sem"), lit(0)).as("r_sem"),
        round(
          when(col("r_lex").isNotNull, lit(1.0) / (col("r_lex") + k)).otherwise(0d) +
            when(col("r_sem").isNotNull, lit(1.0) / (col("r_sem") + k)).otherwise(0d),
          6).as("rrf"))
  }

  /** Windowed token co-occurrence with PMI — the phrase-mining /
    * association verb: every unordered token pair within `w` positions,
    * counted corpus-wide, scored `ln(p(a,b) / (p(a) p(b)))`. The pair
    * relation is built WITHOUT a positional self-join: for each offset
    * j ≤ w, `zip_with(t, shift_j(t))` pairs the array with itself —
    * narrow per-document work — so the only shuffles are the pair and
    * unigram counts (both map-side combined, vocabulary²-bounded after
    * the `minCount` cut, never corpus-sized). The corpus totals are two
    * 1-row broadcasts.
    */
  def cooccurrencePmi(spark: SparkSession, dir: String,
      w: Int = 3, minCount: Long = 10L): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
    def pairsAt(j: Int): Column = {
      val len = greatest(size(col("t")) - j, lit(0))
      zip_with(slice(col("t"), lit(1), len), slice(col("t"), lit(j + 1), len),
        (x, y) => struct(least(x, y).as("a"), greatest(x, y).as("b")))
    }
    val prs = d.select(explode(flatten(array((1 to w).map(pairsAt): _*))).as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))
    val pairCounts = prs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    val uni = d.select(explode(col("t")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    // totals re-aggregate the count relations (identical values), so
    // ReuseExchange shares their shuffles instead of re-scanning the
    // corpus for a second pair generation / third tokenize (review fix)
    val totPairs = pairCounts.agg(sum(col("n_ab")).as("pp"))
    val totToks = uni.agg(sum(col("c")).as("tt"))
    pairCounts.filter(col("n_ab") >= minCount)
      .join(uni.select(col("tok").as("a"), col("c").as("ca")), Seq("a"))
      .join(uni.select(col("tok").as("b"), col("c").as("cb")), Seq("b"))
      .crossJoin(broadcast(totPairs))
      .crossJoin(broadcast(totToks))
      .select(col("a"), col("b"), col("n_ab"),
        round(log((col("n_ab") / col("pp")) /
          ((col("ca") / col("tt")) * (col("cb") / col("tt")))), 4).as("pmi"))
  }

  /** N-gram novelty score — mean ln(corpus frequency) of a document's
    * token bigrams: the cheap "how surprising is this text" curation
    * signal (very low = rare constructions nothing else uses — OCR
    * noise, garbled encodings; very high = the document is mostly
    * corpus boilerplate). The statistical complement of [[qualityScore]]
    * (shape heuristics) and [[repetitionStats]] (self-similarity): this
    * one scores against the CORPUS distribution. Bigrams build narrowly
    * (`zip_with` of two shifted slices — no positional join), the count
    * shuffle is |bigram vocabulary|-bounded, and the rejoin is an
    * equi-join on the bigram — the word-count shape, twice.
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val len = size(col("t")) - 1
    val bi = d.select(col("doc_id"),
      explode(zip_with(slice(col("t"), lit(1), len), slice(col("t"), lit(2), len),
        (x, y) => concat_ws(" ", x, y))).as("bg"))
    val counts = bi.groupBy(col("bg")).agg(count(lit(1)).as("c"))
    bi.join(counts, "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("c"))), 4).as("mean_log_freq"))
  }

  /** Content fingerprint: md5 of the sorted distinct token set — an
    * order/whitespace-insensitive document identity, the cheap "same bag
    * of words" dedup key.
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      md5(concat_ws(" ", array_sort(array_distinct(tokens(col("text"))))).cast("binary"))
        .as("fingerprint"))

  /** Stopword ratio: fraction of tokens that are (English) stopwords —
    * with length and punctuation the third classic cheap quality signal;
    * natural prose sits in a stable band, keyword-stuffed or boilerplate
    * text falls outside it.
    */
  def stopwordRatio(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(lower(col("text")))
    val hits = size(filter(t, x => x.isin(EnStop.map(s => s: Any): _*)))
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      size(t).as("n_tokens"),
      hits.as("n_stopwords"),
      when(size(t) > 0, hits.cast("double") / size(t)).otherwise(0.0).as("stopword_ratio"))
  }

  /** BPE-style pre-tokenization count: pieces are letter runs, digit
    * runs, or non-alphanumeric-non-space runs (the coarse shape GPT-2's
    * pre-tokenizer splits on before merges). Complements the whitespace
    * tokenizer in [[tokenStats]]; counting pieces ≈ the cheap token-cost
    * estimate a data pipeline budgets corpora with.
    */
  def bpePieceStats(spark: SparkSession, dir: String): DataFrame = {
    val pieces = regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"), lit(0))
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      size(pieces).as("n_pieces"),
      size(array_distinct(pieces)).as("n_distinct_pieces"))
  }

  /** Deterministic train/validation/test assignment by content hash:
    * the first 8 hex digits of md5(doc_id) bucket each doc into 0..9999,
    * split 98/1/1. Hash-based (not `df.sample`) so the split is
    * reproducible across partitionings, cluster sizes, and engines —
    * the property a training pipeline needs for stable held-out sets.
    */
  def deterministicSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = graft.functions.GraftFunctions.md5Bucket(col("doc_id"))
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      bucket.as("bucket"),
      when(bucket < 9800, "train").when(bucket < 9900, "val").otherwise("test").as("split"))
  }

  /** Gopher-style repetition signals: the fraction of tokens that are
    * repeats (1 − distinct/total) and the fraction of all word bigrams
    * taken by the single most frequent bigram. Boilerplate, keyword
    * stuffing, and degenerate generations spike both; natural prose
    * stays low. One bigram explode + two map-side-combined aggregations
    * per doc — the shuffle carries (doc, bigram) counts, not text.
    * Ratios rounded to 6 dp so double division can't differ between
    * engines. Docs with <2 tokens have no bigrams → null fraction.
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
    val top = docs.filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", element_at(col("t"), col("i")),
          element_at(col("t"), col("i") + 1)).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("mx"), sum(col("c")).as("total"))
    docs.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("t")).as("n_tokens"),
        when(size(col("t")) > 0,
          round(lit(1.0) - size(array_distinct(col("t"))).cast("double") / size(col("t")), 6))
          .otherwise(lit(null)).as("dup_token_ratio"),
        round(col("mx").cast("double") / col("total"), 6).as("top_bigram_frac"))
  }

  /** Fixed-size token chunking with overlap — the pretraining/RAG
    * chunker: windows of `chunkSize` tokens starting every `stride`
    * tokens while a start position remains in the doc (the tail chunk
    * may be short). Pure per-document flatMap — `sequence` + `slice`
    * stay codegen'd, output rows carry an md5 instead of the chunk text
    * so downstream joins move 16 bytes, not documents.
    */
  /** Substring-level exact-duplicate spans — the token-window analogue
    * of "dedup any repeated 20-token substring" (doc-level dedup misses
    * boilerplate embedded in otherwise-unique documents; this is the
    * verb that finds it). Every w-token window hashes to a narrow
    * (hash, doc, pos) row; windows whose hash repeats ANYWHERE in the
    * corpus (across or within docs) are duplicated, and per doc the
    * overlapping-or-touching duplicated windows (gap ≤ w) merge to
    * maximal spans via gaps-and-islands.
    *
    * Scale: the window relation is Σ n_tokens narrow rows — the honest
    * linear cost of substring dedup; the repeat filter is one
    * map-side-combined count on the 16-byte hash, the rejoin a semi
    * join on the same key, and the span merge a per-doc window over
    * only the DUPLICATED positions. Nothing materializes a |corpus|²
    * comparison, and no doc's full text co-locates anywhere.
    */
  def substringDupes(spark: SparkSession, dir: String, w: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"),
        explode(sequence(lit(0), (size(col("t")) - w).cast("int"))).as("pos"),
        col("t"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", slice(col("t"), col("pos") + 1, lit(w))).cast("binary")).as("h"))
    // repeat filter as ONE pass: a partition-by-hash window count (the
    // digest is near-unique, so groups are 1-2 rows) — the count+semi
    // formulation walked the window relation twice, and checkpointing
    // it traded the re-hash for a full materialization that measured
    // WORSE at 100× (review round; both variants recorded in PLANS.md)
    val hits = sh
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("n") > 1)
      .select(col("doc_id"), col("pos"))
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("new_run",
        when(col("pos") - lag(col("pos"), 1).over(ord) <= w, 0).otherwise(1))
      .withColumn("run_id", sum(col("new_run")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("run_id"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + w).cast("int").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
  }

  def tokenChunks(spark: SparkSession, dir: String,
      chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    val chunk = slice(col("t"), col("k") * stride + 1, lit(chunkSize))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), floor((size(col("t")) - 1) / stride).cast("int"))).as("k"))
      .select(col("doc_id"), col("k").as("chunk_idx"),
        size(chunk).as("n_in_chunk"),
        md5(concat_ws(" ", chunk).cast("binary")).as("chunk_md5"))
  }

  /** [[tokenChunks]] re-expressed through the custom `chunk_slices`
    * Generator (`functions.ChunkSlices`) — the UDTF leg of the
    * UDF/UDAF/UDTF triad. Must be row-identical to the built-in
    * composition: the differential ScalaTest and the shared DuckDB
    * oracle both pin that.
    */
  def tokenChunksGen(spark: SparkSession, dir: String,
      chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    import graft.functions.ChunkSlices.chunkSlices
    Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), chunkSlices(col("t"), chunkSize, stride))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).as("n_in_chunk"),
        md5(concat_ws(" ", col("chunk")).cast("binary")).as("chunk_md5"))
  }

  /** Global token offsets for concat-and-slice packing: pretraining
    * pipelines concatenate the corpus in a deterministic order and cut
    * fixed-budget windows; each doc's placement is the running token
    * total before it. A single global running sum would be a
    * one-partition window — the classic scale-killer — so this is the
    * two-phase distributed prefix sum: docs shard by contiguous doc_id
    * ranges (order-preserving), phase 1 computes within-shard running
    * sums under a per-shard window, phase 2 computes shard base offsets
    * over the tiny shard-totals relation (|corpus|/shardSize rows — at
    * 1 B docs and shardSize 1 M, a thousand rows) and broadcasts them
    * back. pack_id = offset ÷ budget is the training-file assignment.
    */
  def packedOffsets(spark: SparkSession, dir: String,
      shardSize: Int = 100, budget: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"),
        expr(s"doc_id DIV $shardSize").as("shard"))
    val withinW = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = docs.withColumn("local_off",
      coalesce(sum(col("n_tokens")).over(withinW), lit(0L)))
    val shardW = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val shardOffsets = docs.groupBy(col("shard"))
      .agg(sum(col("n_tokens")).as("shard_total"))
      .withColumn("shard_base", coalesce(sum(col("shard_total")).over(shardW), lit(0L)))
      .select(col("shard"), col("shard_base"))
    within.join(broadcast(shardOffsets), Seq("shard"))
      .select(col("doc_id"), col("n_tokens"),
        (col("shard_base") + col("local_off")).as("global_offset"),
        expr(s"(shard_base + local_off) DIV $budget").as("pack_id"))
  }

  /** Per-document Shannon entropy in nats (natural log) over byte
    * values: the classic cheap gibberish/compression-quality signal. Two
    * map-side-combined aggregations — (doc, byte) counts then the per-doc
    * entropy sum; position explosion stays codegen'd (sequence + substr,
    * no array HOF). Rounded to 6 dp so libm ln() rounding can't differ
    * between engines.
    */
  def byteEntropy(spark: SparkSession, dir: String): DataFrame = {
    // empty docs drop out (no bytes → no entropy row), matching the
    // oracle's empty range(1, 1); a greatest()-style guard would instead
    // fabricate a zero-byte row the oracle doesn't have
    // one split("") per document instead of the former
    // sequence-explode + substr(i, 1): substr re-walks the string
    // prefix per emitted character (O(len²) per doc — ~170k character
    // steps for a 577-char doc), while the split is one O(len) pass
    // emitting the same per-position characters. Same (doc_id, b)
    // multiset — the corpus is single-unit text (FIXTURES ASCII), where
    // per-UTF-16-unit split ≡ per-character substr.
    val bytes = Tables(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .select(col("doc_id"), ascii(col("ch")).as("b"))
    bytes
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clogc"))
      // H = ln n − (Σ c·ln c)/n  — algebraically −Σ (c/n)·ln(c/n)
      .select(col("doc_id"),
        round(log(col("n").cast("double")) - col("clogc") / col("n"), 6).as("entropy_nats"))
  }

  // PII patterns shared by redaction and counting. The syntax is the
  // common Java-regex/RE2 subset so the DuckDB oracle applies the SAME
  // patterns (no \p classes, no backrefs, no lookaround).
  private[graft] val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[graft] val PhoneRe = """\+\d{1,2}-\d{3}-\d{4}"""
  private[graft] val Ipv4Re = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""

  /** PII detection + redaction — the scrub every training-data pipeline
    * runs before anything else. The synthetic corpus contains no PII, so
    * the query first splices a deterministic email / E.164-ish phone /
    * IPv4 per document from `doc_id` (the same construction the oracle
    * SQL performs — the multimodal pattern: synthesize, then prove the
    * operator on real matches), then counts matches per class and
    * replaces them with typed placeholder tags. Everything is codegen'd
    * `regexp_count`/`regexp_replace` over one projection: per-row
    * narrow work, no shuffle at all, trivially linear at 100 TB.
    * Redaction order matters and is pinned: emails first (an IPv4-shaped
    * substring may hide inside a hostname), then phones, then bare IPs.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val augmented = concat(
      col("text"), lit(" contact u"), col("doc_id").cast("string"),
      lit("@mail-"), pmod(col("doc_id"), lit(7)).cast("string"),
      lit(".example.com or +1-555-"),
      lpad(pmod(col("doc_id") * 37, lit(10000)).cast("string"), 4, "0"),
      lit(" ip 10."), pmod(col("doc_id"), lit(256)).cast("string"),
      lit(".0."), pmod(col("doc_id") * 3, lit(256)).cast("string"))
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(augmented, EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"),
        Ipv4Re, "<IP>")
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      size(regexp_extract_all(augmented, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(augmented, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(augmented, lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
      md5(redacted).as("redacted_md5"))
  }

  /** Benchmark decontamination — the eval-overlap scrub every serious
    * pretraining pipeline runs: any training document sharing a word
    * n-gram with the held-out benchmark set is flagged (and usually
    * dropped) so eval scores measure generalization, not memorization.
    *
    * The held-out set here is the deterministic `doc_id % 17 == 0`
    * slice (standing in for an external benchmark corpus); overlap is
    * on 8-token shingles, the published decontamination convention.
    * Shape at 100 TB:
    *   - each side emits per-doc DISTINCT shingle digests (md5, 16
    *     bytes) — the shuffle moves digests, never text;
    *   - the benchmark side is collapsed to a global DISTINCT digest
    *     set and BROADCAST: eval corpora are MBs while the training
    *     corpus is TBs, so the contaminated-gram probe is a map-side
    *     hash lookup with no shuffle of the big side at all (if the
    *     benchmark ever outgrew broadcast, dropping the hint degrades
    *     gracefully to a digest equi-join);
    *   - zero-hit docs are restored with a left join against the
    *     training keys so the output is a total verdict per doc.
    */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 8): DataFrame =
    decontaminateDocs(Tables(spark, dir, "documents"), n)

  /** Per-doc DISTINCT `n`-token shingle digests over a tokenized
    * `(doc_id, t)` relation — shared by the exact and bloom
    * decontamination paths.
    */
  private def shingleDigestsRaw(df: DataFrame, n: Int): DataFrame = df
    .filter(size(col("t")) >= n)
    .select(col("doc_id"), col("t"),
      explode(sequence(lit(1), size(col("t")) - (n - 1))).as("i"))
    .select(col("doc_id"),
      md5(concat_ws(" ",
        (0 until n).map(j => element_at(col("t"), col("i") + j)): _*).cast("binary")).as("g"))

  private def shingleDigests(df: DataFrame, n: Int): DataFrame =
    shingleDigestsRaw(df, n).distinct()

  private def tokenizedDocs(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), tokens(col("text")).as("t"))

  private val isBenchDoc = pmod(col("doc_id"), lit(17)) === 0

  /** [[decontaminate]]'s core over any `(doc_id, text)` relation — the
    * benchmark slice is `doc_id % 17 == 0`.
    */
  def decontaminateDocs(documents: DataFrame, n: Int = 8): DataFrame = {
    val docs = tokenizedDocs(documents)
    val bench = shingleDigests(docs.filter(isBenchDoc), n).select(col("g")).distinct()
    val train = docs.filter(!isBenchDoc)
    val hits = shingleDigests(train, n)
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    train.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)) > 0).as("contaminated"))
  }

  /** BLOOM-FILTER decontamination — [[decontaminate]]'s constant-memory
    * twin for when even the benchmark digest SET outgrows comfortable
    * broadcast (a multi-benchmark eval union at 100 TB): the benchmark
    * shingles collapse into one fixed-size Bloom filter (tree-aggregated
    * build — the driver and each combine task hold only the filter
    * words) and the training side probes it map-side. The trade is
    * explicit: NO false negatives (every truly contaminated doc is
    * flagged — the property the scrub actually needs), false positives
    * flag extra docs for review — conservative in the safe direction
    * for decontamination. The per-probe FP rate at k=7 hashes and the
    * default 23 bits/item is (1−e^(−7/23))⁷ ≈ 8.5e-5, and a document
    * probes one entry per distinct shingle, so the per-DOC flag rate
    * union-bounds to ≈ shingles × fpp (an early 1%-fpp cut flagged 39%
    * of clean 50-shingle docs — 1−0.99⁵⁰; 23 bits/item holds ~100-
    * shingle docs under ~1%). ≈2.9 GB per 10⁹ benchmark shingles vs
    * 16 GB + a shuffle for the exact digest set.
    *
    * The construction is the PORTABLE-hash pattern (the r13 MinHash
    * device): bit positions are Kirsch–Mitzenmacher double hashing
    * `(h1 + j·h2) mod m, j ∈ [1, k]` over the two 60-bit halves of the
    * shingle's md5 digest — the same KM scheme Spark's own
    * `BloomFilterImpl` uses (there over Murmur3_128), for which KM is
    * PROVEN fpp-preserving (Kirsch & Mitzenmacher 2006; contrast the
    * r13 finding that KM correlates MinHash minima — a bloom needs only
    * per-bit uniformity, not k independent order statistics). With
    * h < 2^60 and j ≤ 7 the combined hash stays under 2^63: no signed
    * overflow, so DuckDB replays the EXACT bitmap and the query is
    * hash-matched INCLUDING its false positives — the filter bits are a
    * deterministic function of the benchmark set. m = 23·n_items is
    * integer arithmetic for the same reason (a float bits-per-item
    * knob could round differently across engines).
    *
    * The probe is a Scala function over the broadcast words: membership
    * in a driver-built bloom has no Column builtin (`might_contain`
    * binds only to the optimizer's internal join-filter aggregate).
    * Output shape matches [[decontaminate]] (total per-doc verdict);
    * CorpusOpsSpec pins the no-false-negative superset property and the
    * FP excess bound against the exact path.
    */
  /** Stage handles for perf iteration (Scratch profiler). */
  private[graft] class BloomStages(spark: SparkSession, dir: String, n: Int = 8,
      bitsPerItem: Int = 23, k: Int = 7) {
    import spark.implicits._
    val docs = tokenizedDocs(Tables(spark, dir, "documents"))
    val bench = shingleDigests(docs.filter(isBenchDoc), n).select(col("g")).distinct()
    lazy val nItems = bench.count().max(1L)
    lazy val m = math.max(64L, bitsPerItem * nItems)
    val h1 = conv(substring(col("g"), 1, 15), 16, 10).cast("long")
    val h2 = conv(substring(col("g"), 16, 15), 16, 10).cast("long")
    def positions(h1c: Column, h2c: Column): Seq[Column] =
      (1 to k).map(j => (h1c + lit(j.toLong) * h2c) % lit(m))
    lazy val words = {
      val nWords = ((m + 63) / 64).toInt
      bench.select(explode(array(positions(h1, h2): _*)).as("p"))
        .as[Long].rdd.treeAggregate(new Array[Long](nWords))(
          (w, p) => { w((p >>> 6).toInt) |= 1L << (p & 63).toInt; w },
          (a, b) => { var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a })
    }
    lazy val hits = {
      val wordsBc = spark.sparkContext.broadcast(words)
      val mLocal = m
      val kLocal = k
      // One UDF taking the digest string as its SINGLE argument: hex
      // halves parsed and KM-probed inside the function
      // (Long.parseLong base 16 == conv(_, 16, 10) on 15 lowercase hex
      // digits). The single reference is load-bearing: predicate
      // pushdown substitutes the defining expression into the
      // predicate PER REFERENCE, and the first cut (an expression-side
      // array of 7 KM positions, each reading two conv(substring(g))
      // halves) inlined the md5(concat_ws(shingle)) subtree 14 times —
      // 11 s vs ~1.3 s. With one argument the optimizer still pushes
      // the probe below the digest projection, but the md5 appears
      // exactly once (pinned by the plan-shape test in CorpusOpsSpec).
      // The probe sits BEFORE the per-doc distinct on purpose: at
      // scale the shuffle then carries only bloom survivors.
      val mightContain = udf { (g: String) =>
        val h1 = java.lang.Long.parseLong(g.substring(0, 15), 16)
        val h2 = java.lang.Long.parseLong(g.substring(15, 30), 16)
        val w = wordsBc.value
        var j = 1
        var ok = true
        while (ok && j <= kLocal) {
          val p = (h1 + j * h2) % mLocal
          ok = (w((p >>> 6).toInt) & (1L << (p & 63).toInt)) != 0
          j += 1
        }
        ok
      }
      shingleDigestsRaw(docs.filter(!isBenchDoc), n)
        .filter(mightContain(col("g")))
        .distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    }
  }

  private[graft] def bloomStages(spark: SparkSession, dir: String) =
    new BloomStages(spark, dir)

  def decontaminateBloom(
      spark: SparkSession, dir: String, n: Int = 8,
      bitsPerItem: Int = 23, k: Int = 7): DataFrame = {
    require(k >= 1 && k <= 7, s"k=$k: KM combined hash must stay under 2^63")
    val st = new BloomStages(spark, dir, n, bitsPerItem, k)
    require(st.m <= Int.MaxValue.toLong * 64,
      s"m=${st.m} bits outgrows one long[] filter; shard the filter at this scale")
    st.docs.filter(!isBenchDoc).select(col("doc_id"))
      .join(st.hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)) > 0).as("contaminated"))
  }

  /** URL structural parsing — host / path / query-parameter extraction
    * for crawl provenance and per-domain corpus stats. Synthesizes a
    * deterministic URL per document (scheme, subdomain, port, path,
    * two query params, fragment — every component the parser must
    * separate), then splits it with Spark's native `parse_url`
    * expression; the oracle recomputes each component with equivalent
    * anchored regexes. Pure per-row projection: no shuffle, linear scan.
    */
  def urlParse(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        concat(
          lit("https://sub"), pmod(col("doc_id"), lit(10)).cast("string"),
          lit(".example.com:8080/p/"), col("doc_id").cast("string"),
          lit("/item?q="), col("lang"),
          lit("&page="), pmod(col("doc_id"), lit(5)).cast("string"),
          lit("#frag")).as("url"))
      .select(col("doc_id"),
        expr("parse_url(url, 'PROTOCOL')").as("protocol"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY', 'q')").as("q_param"),
        expr("parse_url(url, 'QUERY', 'page')").as("page_param"),
        expr("parse_url(url, 'REF')").as("fragment"))
  }

  /** The ENGINE's own frequency sketch — Spark 4's `approx_top_k`
    * aggregate (one mergeable sketch pass, map-side combined) — over
    * the corpus token stream. Complements the custom Misra-Gries tier
    * (`q_heavy_hitters`): same verb, engine-native sketch. The sketch
    * tracks up to 10k items, far above this corpus's vocabulary, so
    * its estimates are EXACT here and the DuckDB oracle can pin the
    * top-k set precisely (k chosen clear of a count tie at verify
    * scale; the spec stays tie-aware for other scales). At real scale
    * the same one-pass plan degrades gracefully to approximate counts
    * under a fixed memory cap — the reason a 100 TB pipeline runs a
    * sketch instead of a full groupBy-sort.
    */
  def approxTopTokens(spark: SparkSession, dir: String, k: Int = 9): DataFrame =
    Tables(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
      .agg(expr(s"approx_top_k(tok, $k)").as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.item").as("token"), col("e.count").as("est_count"))

  /** Left-to-right non-overlapping merge of adjacent (a, b) — the BPE
    * apply step, shared by the distributed trainer and the spec's
    * driver recompute so both execute the identical rule.
    */
  private[graft] def mergeAdjacent(arr: Array[String], a: String, b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < arr.length) {
      if (i < arr.length - 1 && arr(i) == a && arr(i + 1) == b) { out += (a + b); i += 2 }
      else { out += arr(i); i += 1 }
    }
    out.result()
  }

  /** DISTRIBUTED BPE merge-rule training — the actual tokenizer-training
    * verb ([[bpePieceStats]] applies a fixed greedy segmentation; this
    * LEARNS the merge table). Classic word-level BPE: the corpus first
    * collapses to (word, count) — a |vocab|-sized relation, the only
    * corpus-sized pass in the whole algorithm — then each of `merges`
    * rounds (1) counts adjacent symbol pairs weighted by word count
    * (map-side combined, output |pair vocab|), (2) takes the single
    * most frequent pair (ties broken lexicographically — ONE row to the
    * driver per round, the bounded-model contract shared with IVF/PQ
    * training), and (3) applies the merge map-side to every word's
    * symbol array. At 100 TB the word-count pass dominates; every
    * round after runs on the vocabulary, whose size is a property of
    * the LANGUAGE, not the corpus.
    *
    * Iterative + typed-map execution → no SQL oracle for the trainer
    * itself; the spec replays the identical algorithm on the collected
    * word counts and pins the full rule sequence (and q_bpe_apply's
    * oracle independently re-derives the rules in SQL).
    *
    * The learned table is a MODEL: deterministic given (corpus,
    * merges), so it memoizes per JVM exactly like the idempotent
    * `ensureDocsTable` materializations — the deploy half
    * ([[bpeApply]]) reuses the trained table the way any real pipeline
    * would rather than re-running 8 training rounds per query.
    */
  private val bpeRulesCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Seq[(Int, String, String, String, Long)]]

  def bpeTrain(spark: SparkSession, dir: String, merges: Int = 8): DataFrame = {
    import spark.implicits._
    val rules = bpeRulesCache.getOrElseUpdate(
      (Tables.fingerprint(dir, "documents"), merges), {
      val words = Tables(spark, dir, "documents")
        .select(explode(tokens(lower(col("text")))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .as[(String, Long)]
        .map { case (w, c) => (w.map(_.toString).toArray :+ "</w>", c) }
      var syms = words.persist()
      syms.count()
      val out = Seq.newBuilder[(Int, String, String, String, Long)]
      for (step <- 1 to merges) {
        val top = syms.flatMap { case (arr, c) =>
            (0 until arr.length - 1).map(i => (arr(i), arr(i + 1), c)) }
          .groupByKey(t => (t._1, t._2)).mapValues(_._3).reduceGroups(_ + _)
          .map { case ((a, b), c) => (a, b, c) }
          .orderBy(col("_3").desc, col("_1").asc, col("_2").asc)
          .limit(1).collect()
        top.foreach { case (a, b, c) =>
          out += ((step, a, b, a + b, c))
          val prev = syms
          syms = prev.map { case (arr, c2) => (mergeAdjacent(arr, a, b), c2) }.persist()
          syms.count() // materialize the round before releasing its parent
          prev.unpersist()
        }
      }
      syms.unpersist()
      out.result()
    })
    rules.toDF("step", "left", "right", "merged", "pair_count")
  }

  /** APPLY the learned BPE merge table — the deploy half of
    * [[bpeTrain]]'s train half: segment every document with the rule
    * sequence and report its compression (pieces per word — the number
    * a tokenizer-efficiency audit tracks per language/source slice).
    * The rule table is driver-resident by construction (`merges` rows —
    * the bounded-model contract), broadcast into a map-side typed
    * transform; per-word cost is O(rules × word length), no shuffle
    * until the final nothing (output is per-doc). Rows-only tier
    * (same reason as training: the iterative merge semantics have no
    * SQL spelling); the spec replays segmentation in the driver with
    * the SAME [[mergeAdjacent]] the executors run.
    */
  def bpeApply(spark: SparkSession, dir: String, merges: Int = 8): DataFrame = {
    import spark.implicits._
    val rules = bpeTrain(spark, dir, merges).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))
    val bc = spark.sparkContext.broadcast(rules)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .as[(Long, Seq[String])]
      .map { case (id, toks) =>
        var pieces = 0
        toks.foreach { w =>
          var arr = w.map(_.toString).toArray :+ "</w>"
          bc.value.foreach { case (a, b) => arr = mergeAdjacent(arr, a, b) }
          pieces += arr.length
        }
        (id, toks.length, pieces)
      }
      .toDF("doc_id", "n_words", "n_pieces")
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        round(col("n_pieces").cast("double") / greatest(col("n_words"), lit(1)), 4)
          .as("pieces_per_word"))
  }

  /** INVERTED-INDEX build — the retrieval-engine layout verb: token →
    * (document frequency, total term frequency, posting-set digest).
    * Two map-side-combined aggregations, both keyed small: (token, doc)
    * then token — never a per-token list in memory. The posting digest
    * is `bit_xor` of a 60-bit md5 prefix of each doc_id: ORDER-
    * INDEPENDENT and O(1) state, so the stopword token whose posting
    * list is corpus-sized costs the same as a hapax — the property that
    * lets this run at 100 TB where a `collect_list(doc_id)` per token
    * would buffer the corpus into single reducers. (A production index
    * writes the postings themselves as rows bucketed by token; the
    * digest is the verifiable fingerprint of exactly that content.)
    * The 15-hex-digit (60-bit) md5 prefix is the portable-hash contract
    * shared with q_minhash_sig — positive BIGINT on both engines.
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("total_tf"),
        expr("bit_xor(cast(conv(substring(md5(cast(cast(doc_id as string) as binary)), 1, 15), 16, 10) as bigint))")
          .as("postings_xor"))

  /** TOKENIZER VOCABULARY COVERAGE / OOV RATE per source — the
    * pre-training sanity readout: given a frequency-built vocabulary
    * (top-`k` corpus tokens, deterministic count-desc/token-asc
    * tie-break — the zeroth-order tokenizer every pipeline starts
    * from), what fraction of each slice's tokens falls outside it?
    * A source with a high OOV rate either needs the vocabulary grown
    * or is the wrong distribution for it. Shapes: explode →
    * map-side-combined count (|vocab|-sized shuffle) → top-k
    * (TakeOrdered) → vocabulary BROADCAST back as a left join —
    * corpus-sized work is one scan, never an all-pairs or a
    * corpus-sized shuffle.
    */
  def vocabCoverage(spark: SparkSession, dir: String, k: Int = 1000): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(k)
      .select(col("tok"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", round(
        col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
  }

  /** LEXICAL DIVERSITY per source — type-token ratio and hapax
    * fraction, the corpus-health stats a data curator reads next to
    * OOV rate: a slice whose TTR collapses is template spam; one whose
    * hapax fraction explodes is OCR noise. Two map-side-combined
    * aggregations — (source, token) counts then per-source rollup —
    * shuffles bounded by |vocabulary|, never corpus-sized.
    */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types").cast("double"), 6)
          .as("hapax_frac"))

  /** FLESCH READING-EASE per document — the readability member of the
    * quality-scoring family (length/punct/stopword ratios live in
    * `qualityScore`; this adds the classic 206.835 − 1.015·(words/
    * sentences) − 84.6·(syllables/words) score used to band corpora by
    * audience level). Sentences = terminal-punctuation runs, syllables =
    * vowel runs — the standard cheap approximations, spelled with the
    * same regex semantics on both engines so the gate hash-matches.
    * Counting is integer-exact; the score is ONE double expression per
    * row (no accumulation), rounded. One codegen'd scan, no shuffle.
    */
  def readability(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).as("n_sentences"),
        size(tokens(col("text"))).as("n_words"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).as("n_syllables"))
      .select(col("doc_id"), col("n_sentences"), col("n_words"), col("n_syllables"),
        round(when(col("n_words") > 0,
          lit(206.835)
            - lit(1.015) * col("n_words").cast("double") / col("n_sentences").cast("double")
            - lit(84.6) * col("n_syllables").cast("double") / col("n_words").cast("double")), 4)
          .as("flesch"))

  /** Viterbi segmentation of one word under a unigram piece model —
    * max-log-prob split via the classic O(len × maxPieceLen) DP.
    * Deterministic tie-break: strict `>` keeps the FIRST (smallest
    * start index = longest piece) candidate at equal score, so the
    * executors and the spec's driver replay segment identically.
    * Shared by the trainer's E-step and the apply verb — the same
    * contract as [[mergeAdjacent]] for BPE.
    */
  private[graft] def viterbiSegment(word: String, logProb: collection.Map[String, Double],
      maxPieceLen: Int): Array[String] = {
    val n = word.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        if (best(j) != Double.NegativeInfinity) {
          logProb.get(word.substring(j, i)) match {
            case Some(p) =>
              val s = best(j) + p
              if (s > best(i)) { best(i) = s; back(i) = j }
            case None => ()
          }
        }
        j += 1
      }
      i += 1
    }
    if (best(n) == Double.NegativeInfinity) return Array(word) // no cover (unseen char)
    var pieces = List.empty[String]
    var k = n
    while (k > 0) { val j = back(k); pieces ::= word.substring(j, k); k = j }
    pieces.toArray
  }

  /** UNIGRAM-LM tokenizer training (SentencePiece's unigram model,
    * Kudo 2018) — the OTHER tokenizer-training family next to
    * [[bpeTrain]]'s merge rules: a vocabulary of pieces with log-
    * probabilities, fit by hard-EM (Viterbi E-step) and pruned to a
    * target size. Same distributed economics as BPE: the corpus
    * collapses ONCE to (word, count); the substring-seed pass and every
    * EM round run over that |vocab|-sized relation with the piece table
    * broadcast (seed ≤ `seedSize` + alphabet rows — the bounded-model
    * contract), and the only driver traffic is the per-round piece-count
    * aggregate, vocabulary-sized, never corpus-sized. At 100 TB the
    * word-count pass dominates; the EM rounds are a property of the
    * LANGUAGE's vocabulary, not the corpus.
    *
    *  1. seed: all substrings (len ≤ `maxPieceLen`) of the word list
    *     weighted by word count — top `seedSize` by (count, piece) — plus
    *     every single character (coverage guarantee);
    *  2. hard-EM × `emRounds`: broadcast log-probs, Viterbi-segment every
    *     word map-side, sum piece counts, re-normalize;
    *  3. prune to `vocabSize` by (count desc, piece asc), single chars
    *     exempt, then one final E-step re-normalizes the survivors.
    *
    * Iterative + typed-map execution → no SQL oracle (rows-only tier,
    * like BPE); UnigramSpec replays the identical algorithm driver-side
    * from the collected word counts and pins the full (piece, count,
    * logprob) table, plus hand-built fixtures with known-best
    * segmentations.
    */
  /** The fitted piece table is a MODEL — deterministic given (corpus,
    * hyperparameters) — so it memoizes per JVM keyed on the corpus
    * CONTENT fingerprint exactly like [[bpeRulesCache]] /
    * `Similarity.pqCodebookCache`: the deploy half ([[unigramApply]])
    * reuses the trained table the way a real pipeline would instead of
    * re-running seed + 4 E-steps per query.
    */
  private val unigramModelCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int, Int, Int, Int), Array[(String, Long, Double)]]

  def unigramTrain(spark: SparkSession, dir: String, vocabSize: Int = 120,
      seedSize: Int = 400, maxPieceLen: Int = 6, emRounds: Int = 3): DataFrame = {
    import spark.implicits._
    val model = unigramModelCache.getOrElseUpdate(
      (Tables.fingerprint(dir, "documents"), vocabSize, seedSize, maxPieceLen, emRounds), {
        val words = Tables(spark, dir, "documents")
          .select(explode(tokens(lower(col("text")))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
          .as[(String, Long)]
          .persist()
        words.count()
        try trainUnigramModel(words, vocabSize, seedSize, maxPieceLen, emRounds)
        finally { words.unpersist(): Unit }
      })
    model.toSeq.toDF("piece", "freq", "logprob")
      .select(col("piece"), col("freq"), round(col("logprob"), 6).as("logprob"))
  }

  /** The trainer's core, shared verbatim with UnigramSpec's driver
    * replay (the spec feeds a LOCAL Dataset of the same word counts —
    * identical code path, so divergence is impossible by construction).
    */
  private[graft] def trainUnigramModel(
      words: org.apache.spark.sql.Dataset[(String, Long)], vocabSize: Int,
      seedSize: Int, maxPieceLen: Int, emRounds: Int): Array[(String, Long, Double)] = {
    val spark = words.sparkSession
    import spark.implicits._
    // ONE substring pass for the alphabet AND the multi-char seed (was
    // two flatMap+reduce jobs over the word list): lengths
    // 1..maxPieceLen emit together, the len-1 slice IS the exact
    // alphabet count (single chars stay coverage-exempt from every
    // cut), and the top-`seedSize` of the len ≥ 2 slice IS the seed —
    // same counts, same deterministic (count desc, piece asc) cut, one
    // driver action instead of two and one substring shuffle instead
    // of two (guide §2.4). Only |alphabet| + seedSize rows ever reach
    // the driver, exactly as before.
    val seedCounts = words.flatMap { case (w, c) =>
        for {
          i <- 0 until w.length
          l <- 1 to math.min(maxPieceLen, w.length - i)
        } yield (w.substring(i, i + l), c)
      }
      .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
      .map { case (p, c) => (p, c) }
    val seedRows = seedCounts.filter(_._1.length == 1)
      .union(seedCounts.filter(_._1.length > 1)
        .orderBy(col("_2").desc, col("_1").asc)
        .limit(seedSize))
      .collect()
    val charCounts: Map[String, Long] = seedRows.filter(_._1.length == 1).toMap
    val multiSeed: Array[(String, Long)] = seedRows.filter(_._1.length > 1)
    // every char stays in the model forever (count floored at 1 inside
    // normalize, re-added here if an E-step never used it)
    def cover(counts: Array[(String, Long)]): Array[(String, Long)] = {
      val m = counts.toMap
      counts ++ charCounts.keysIterator.filterNot(m.contains).map(_ -> 0L)
    }
    // Model log-probs live on the PORTABLE round-9 grid (the q_hits bd9
    // device): every Viterbi comparison then operates on doubles both
    // engines agree on bit-for-bit, which is what lets the DuckDB oracle
    // replay the EM rounds exactly (q_unigram_train/apply are
    // hash-matched since r14).
    def r9(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    def normalize(counts: Array[(String, Long)]): Map[String, Double] = {
      val total = math.max(1L, counts.map(c => math.max(1L, c._2)).sum).toDouble
      counts.map { case (p, c) => p -> r9(math.log(math.max(1L, c) / total)) }.toMap
    }
    def eStep(model: Map[String, Double]): Array[(String, Long)] = {
      val bc = spark.sparkContext.broadcast(model)
      val out = words.flatMap { case (w, c) =>
          viterbiSegment(w, bc.value, maxPieceLen).map(p => (p, c)) }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map { case (p, c) => (p, c) }
        .collect()
      bc.destroy()
      cover(out)
    }
    var counts: Array[(String, Long)] = cover(charCounts.toArray ++ multiSeed)
    var lp = normalize(counts)
    (1 to emRounds).foreach { _ =>
      counts = eStep(lp)
      lp = normalize(counts)
    }
    // prune to the target vocabulary (single chars exempt — coverage),
    // deterministic order: count desc, piece asc
    val (charPieces, multi) = counts.partition(_._1.length == 1)
    val kept = charPieces ++
      multi.sortBy { case (p, c) => (-c, p) }
        .take(math.max(0, vocabSize - charPieces.length))
    lp = normalize(kept)
    val finalCounts = eStep(lp).toMap
    val total = math.max(1L,
      kept.map(p => math.max(1L, finalCounts.getOrElse(p._1, 0L))).sum).toDouble
    kept.map { case (p, _) =>
      val c = finalCounts.getOrElse(p, 0L)
      (p, c, math.log(math.max(1L, c) / total))
    }.sortBy { case (p, c, _) => (-c, p) }
  }

  /** APPLY the unigram model — Viterbi-segment every document with the
    * trained piece table (driver-resident by the bounded-model
    * contract, broadcast map-side; no shuffle) and report per-document
    * compression, the same audit shape as [[bpeApply]] so the two
    * tokenizer families are directly comparable on pieces-per-word.
    * Rows-only tier; UnigramSpec pins the segmentation against the
    * driver replay.
    */
  def unigramApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val model = unigramTrain(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val bc = spark.sparkContext.broadcast(model)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(lower(col("text"))).as("t"))
      .as[(Long, Seq[String])]
      .map { case (id, toks) =>
        var pieces = 0
        toks.foreach { w => pieces += viterbiSegment(w, bc.value, 6).length }
        (id, toks.length, pieces)
      }
      .toDF("doc_id", "n_words", "n_pieces")
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        round(col("n_pieces").cast("double") / greatest(col("n_words"), lit(1)), 4)
          .as("pieces_per_word"))
  }

  /** QUANTILE NORMALIZATION across sources (Bolstad et al. 2003 — the
    * microarray classic, reborn as cross-slice score calibration): map
    * each source's `n_chars` distribution onto the POOLED distribution
    * so a "length 300" means the same percentile everywhere — the
    * preprocessing step before any cross-source threshold is
    * comparable. PURE INTEGER end to end: within-source rank r over
    * the (value, doc_id) total order, pooled 0-based index
    * k = ((r−1)(N−1)) div (n_s−1) by integer division, and the pooled
    * order statistic selected from the value histogram's cumulative
    * counts — no interpolation site, so both engines pick the
    * identical value.
    *
    * THE 100 TB SHAPE: the rank window partitions by source; the
    * pooled lookup joins each doc's k into the VALUE-DOMAIN-bounded
    * histogram (distinct lengths, not rows) on a cum-count interval —
    * broadcast, since a value histogram is small at any corpus size.
    */
  def quantileNorm(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val wr = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val ranked = docs.withColumn("r", row_number().over(wr))
    val ns = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val nTot = docs.agg(count(lit(1)).as("n_total"))
    val hist = docs.groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("c"))
    val wc = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumHist = hist.withColumn("cum", sum(col("c")).over(wc))
      .withColumn("cum_prev", col("cum") - col("c"))
    val keyed = ranked
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(nTot))
      .withColumn("k", when(col("n_s") > 1,
        expr("(r - 1) * (n_total - 1) div (n_s - 1)"))
        .otherwise(expr("(n_total - 1) div 2")))
    keyed.join(broadcast(cumHist),
        col("k") + 1 > col("cum_prev") && col("k") + 1 <= col("cum"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("v").as("norm_chars"))
  }

  /** ZIPF RANK–FREQUENCY FIT — does the corpus obey Zipf's law
    * (freq ∝ rank^−s, s ≈ 1 for natural language)? A slope far from
    * −1 or a poor r² is the classic machine-generated/boilerplate
    * corpus tell, read alongside [[gopherRules]] and the compression
    * dial. OLS of ln(freq) on ln(rank) over the top `r` tokens
    * (count desc, token asc — deterministic ranks).
    *
    * EXACTNESS: `ln` is the accepted cross-engine transcendental
    * (entropy/divergence family); both regressors round to 9 decimals
    * BEFORE any product and all five OLS sums ride the house
    * DECIMAL(38,9) order-independent channel, so the final slope /
    * intercept / r² doubles assemble from identical exact sums.
    *
    * THE 100 TB SHAPE: one explode → map-side-combined token counts
    * (|vocab|-bounded shuffle); the rank window and regression run
    * over r = 500 rows.
    */
  def zipfFit(spark: SparkSession, dir: String, r: Int = 500): DataFrame = {
    val b9 = org.apache.spark.sql.types.DecimalType(38, 9)
    val counts = Tables(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    // top-r via orderBy+limit (TakeOrderedAndProject: bounded per-
    // partition top-r + driver merge) THEN a row_number over the r
    // surviving rows — the former full-vocab row_number window sorted
    // the whole |vocab| relation in one reducer for the same ranks
    // (total order, so the selected rows and ranks are identical; the
    // rrfHybrid device)
    val top = counts
      .orderBy(col("n").desc, col("token").asc).limit(r)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("token").asc)))
    def dd(c: Column) = c.cast("double")
    val pts = top.select(
      round(log(dd(col("rank"))), 9).as("x"),
      round(log(dd(col("n"))), 9).as("y"))
    val s = pts.agg(
      count(lit(1)).as("m"),
      sum(col("x").cast(b9)).as("sx"), sum(col("y").cast(b9)).as("sy"),
      sum(round(col("x") * col("y"), 9).cast(b9)).as("sxy"),
      sum(round(col("x") * col("x"), 9).cast(b9)).as("sxx"),
      sum(round(col("y") * col("y"), 9).cast(b9)).as("syy"))
    val m = dd(col("m"))
    val vx = m * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))
    val vy = m * dd(col("syy")) - dd(col("sy")) * dd(col("sy"))
    val cxy = m * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))
    s.select(col("m").as("n_ranks"),
      round(when(vx > 0, cxy / vx), 6).as("zipf_slope"),
      round(when(vx > 0, (dd(col("sy")) - (cxy / vx) * dd(col("sx"))) / m), 6)
        .as("intercept"),
      round(when(vx > 0 && vy > 0, (cxy * cxy) / (vx * vy)), 6).as("r_squared"))
  }

  /** MULTINOMIAL NAIVE BAYES LANGUAGE CLASSIFIER — train on the
    * corpus's own `lang` labels over a capped vocabulary, re-classify
    * every document, publish the lang×lang confusion matrix: the
    * label-quality audit a corpus team runs on third-party language
    * tags (a clean corpus re-classifies onto the diagonal; off-
    * diagonal mass localizes mislabeled slices). Laplace-smoothed
    * `P(tok|lang) = (c+1)/(T+V)` over the top `v` global tokens, doc
    * prior from label counts, OOV tokens skipped (standard capped-
    * vocab NB). On a corpus whose langs share one token distribution
    * (the synthetic fixture does), NB correctly collapses to the
    * prior — an all-one-column confusion matrix is itself the
    * readout that the labels carry no lexical signal; the spec pins
    * diagonal classification on a vocabulary-separable fixture.
    *
    * EXACTNESS: every log-prob quantizes to INTEGER NANOLOG units
    * (round(ln·10⁹) → BIGINT) at model-build time; a document's score
    * is Σ n_dt · lp9 — pure BIGINT arithmetic, order-independent and
    * overflow-safe (|lp9| ≤ 2·10¹⁰, doc token counts bounded), so the
    * argmax (score desc, lang asc) compares exact integers and can
    * never flip on summation order.
    *
    * THE 100 TB SHAPE: the model is |vocab|×|langs| rows built from
    * one token-count pass and BROADCAST; scoring is explode → model
    * hash-join → (doc, lang) map-side-combined sum; the confusion
    * matrix is |langs|² rows.
    */
  def nbLangClassify(spark: SparkSession, dir: String, v: Int = 2000): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
    // one token-explode pass, materialized: the (doc, lang, token)
    // aggregate feeds BOTH the vocab ranking and the scoring join —
    // without the checkpoint the corpus explodes+aggregates twice
    // (measured 4.2× at the 10× sweep; ~2× after)
    val docTok = docs.select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("lang"), col("token"))
      .agg(count(lit(1)).as("n_dt"))
      .localCheckpoint()
    // top-v vocabulary via orderBy+limit (TakeOrderedAndProject) — the
    // former full-vocab row_number window sorted the whole |vocab|
    // relation in one reducer to pick the same deterministic top v
    val vocab = docTok.groupBy(col("token")).agg(sum(col("n_dt")).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(v)
      .select(col("token"))
    val inVocab = docTok.join(broadcast(vocab), Seq("token"))
    // class priors are |langs| rows — collect once (the relation fed
    // two broadcast subtrees plus a separate full count for nDocs)
    import spark.implicits._
    val langRows = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val langs = langRows.toDF("lang", "n_docs")
    val nDocs = langRows.map(_._2).sum
    val cLT = inVocab.groupBy(col("lang"), col("token")).agg(sum(col("n_dt")).as("c"))
    val tL = cLT.groupBy(col("lang")).agg(sum(col("c")).as("t_l"))
    val grid = vocab.crossJoin(broadcast(langs.select(col("lang"))))
      .join(cLT, Seq("lang", "token"), "left")
      .na.fill(0L, Seq("c"))
      .join(broadcast(tL), Seq("lang"))
    val model = grid.select(col("lang"), col("token"),
      round(log((col("c") + lit(1L)).cast("double") /
        (col("t_l") + lit(v.toLong)).cast("double")) * lit(1e9)).cast("long").as("lp9"))
    val prior = langs.select(col("lang"),
      round(log(dd(col("n_docs")) / lit(nDocs.toDouble)) * lit(1e9)).cast("long")
        .as("prior9"))
    val scored = inVocab.select(col("doc_id"), col("lang").as("lang_true"),
        col("token"), col("n_dt"))
      .join(broadcast(model), Seq("token"))
      .groupBy(col("doc_id"), col("lang_true"), col("lang"))
      .agg(sum(col("n_dt") * col("lp9")).as("ll9"))
      .join(broadcast(prior), Seq("lang"))
      .withColumn("score", col("ll9") + col("prior9"))
    val wArg = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang").asc)
    scored.withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .groupBy(col("lang_true"), col("lang").as("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** TOKENIZER FERTILITY by language — chars/token, bytes/token and
    * tokens/doc per lang: the compression-efficiency readout a
    * pretraining team tabulates per tokenizer per language (high
    * fertility = the tokenizer fragments that language, inflating
    * sequence lengths and training cost; cf. the fertility tables in
    * the XLM-R / NLLB tokenizer studies). Whitespace tokens here —
    * the operator contract is the statistic; swap the tokenizer and
    * the same one-scan aggregate reprices any vocabulary. All sums
    * exact BIGINTs; three mirrored double ratios.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    def dd(c: Column) = c.cast("double")
    Tables(spark, dir, "documents")
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("nt"),
        length(col("text")).cast("long").as("nc"),
        octet_length(col("text")).cast("long").as("nb"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        sum(col("nc")).as("n_chars"), sum(col("nb")).as("n_bytes"))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(dd(col("n_chars")) / dd(col("n_tokens")), 6).as("chars_per_token"),
        round(dd(col("n_bytes")) / dd(col("n_tokens")), 6).as("bytes_per_token"),
        round(dd(col("n_tokens")) / dd(col("n_docs")), 6).as("tokens_per_doc"))
  }

  /** SIGNED FEATURE HASHING (the full hashing trick, Weinberger et al.
    * 2009 / Vowpal Wabbit): project bag-of-words onto a fixed
    * `dims`-wide vector space with NO vocabulary pass — dim = h(token)
    * mod dims, sign = SECOND hash bit, weight = Σ±1 per occurrence.
    * Upgrades [[featureHash]]'s unsigned tf bucketing with the sign
    * hash that is the theorem's actual content: colliding tokens cancel
    * in expectation (E[collision contribution] = 0), so the hashed
    * inner product is an unbiased estimate of the true one — unsigned
    * tf collisions only ever ADD mass and bias similarity upward.
    *
    * Pure per-row projection + one map-side-combined (doc, dim)
    * aggregate — zero joins, no vocabulary state, the linear-scaling
    * word-count shape. Hashes are the house md5 arithmetic (first 8 hex
    * chars → dim, 9th char parity → sign), so the DuckDB oracle
    * computes the identical vectors; the `doc_id < docLimit` slice
    * bounds the demo output, not the plan.
    */
  def featureHashing(spark: SparkSession, dir: String, dims: Int = 64,
      docLimit: Int = 200): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .filter(col("doc_id") < docLimit)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
    val h = md5(col("tok").cast("binary"))
    toks
      .withColumn("dim",
        (conv(substring(h, 1, 8), 16, 10).cast("long") % dims).cast("int"))
      .withColumn("sign",
        when(conv(substring(h, 9, 1), 16, 10).cast("long") % 2 === 0, 1L)
          .otherwise(-1L))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sign")).as("weight"), count(lit(1)).as("n_terms"))
  }
}
