package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Int8 scalar quantization of embedding columns — the memory/bandwidth
  * lever a 100 TB vector corpus pulls first: a 64-dim float32 embedding
  * is 256 bytes; the int8 code plus its one float scale is 68 — a 3.8×
  * reduction in scan bytes, shuffle bytes, and cache footprint for every
  * downstream similarity pass, at a cosine error the spec bounds.
  *
  * Scheme (symmetric max-abs, the standard inference-time layout):
  * `scale = max(|x_i|)`, `q_i = floor(x_i * 127 / scale + 0.5)` — an
  * explicit floor-based round-half-up rather than `round()` so the
  * DuckDB oracle computes bit-identical codes (both engines evaluate the
  * same IEEE double expression; `round()`'s half-away/half-even
  * conventions differ across engines and element signs). All-zero
  * vectors quantize to all-zero codes (scale 0 guard — ANSI divide).
  *
  * Cosine needs NO dequantization: the per-vector scales cancel, so
  * `cos_q = Σ q_a·q_b / (||q_a|| ||q_b||)` is pure integer arithmetic
  * (exact in doubles up to 2^53) followed by one sqrt/divide — and the
  * integer dot rides the native codegen'd [[graft.functions.DotProduct]]
  * over `array<tinyint>`, the same fused loop the float path uses.
  */
object Quantization {

  import graft.functions.VectorFunctions.{dot, sqNorm}

  /** `(codes array<tinyint>, scale double)` for a float-array column.
    * The transform itself is a HOF (one interpreted pass per vector at
    * quantization time); every REPEATED similarity pass afterwards runs
    * on the narrow int8 codes through codegen'd loops — the right side
    * of the trade at corpus scale, where quantize-once feeds scan-many.
    */
  private def quantize(emb: Column): (Column, Column) = {
    val v = emb.cast("array<double>")
    val scale = array_max(transform(v, x => abs(x)))
    val codes = when(scale === 0d, transform(v, _ => lit(0).cast("byte")))
      .otherwise(transform(v, x => floor(x * lit(127d) / scale + lit(0.5d)).cast("byte")))
    (codes, scale)
  }

  /** Exact top-k cosine in INT8 space: quantize the corpus once, score
    * queries (vec_id < nQueries) against every vector on the integer
    * codes, keep per-query top-k. Same shape as `Similarity.knnBrute` —
    * broadcast query codes, map-side scoring, one top-k window — but the
    * scan payload is a quarter the bytes. Deterministic end to end, so
    * the driver gate hash-matches a DuckDB oracle that rebuilds the same
    * codes via list lambdas.
    */
  def quantizedKnn(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val (codes, scale) = quantize(col("embedding"))
    val q8 = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), codes.as("codes"), scale.as("scale"))
      .withColumn("qnorm", sqrt(sqNorm(col("codes"))))
    val queries = q8.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("codes").as("q_codes"), col("qnorm").as("q_qnorm"))
    val scored = q8.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      // zero-norm guard mirrored in the oracle (ANSI doubles ERROR on /0)
      .withColumn("qcos", when(col("qnorm") * col("q_qnorm") === 0d, 0d)
        .otherwise(dot(col("codes"), col("q_codes")) / (col("qnorm") * col("q_qnorm"))))
    val w = Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"), col("qcos"))
  }

  /** Johnson–Lindenstrauss random projection over the INT8 codes — the
    * dimensionality cut that makes sketch-sized vector indexes: a ±1
    * Rademacher matrix (distance-preserving in expectation, Achlioptas
    * 2001) projects each 64-dim code vector to `outDim` integers. Run
    * on the quantized codes rather than the floats, the projection is
    * PURE INTEGER arithmetic — exact in doubles, so unlike a float JL
    * transform it is bit-reproducible across engines and the driver
    * gate hash-matches (sums of floats would depend on each engine's
    * accumulation order).
    *
    * The sign matrix derives from the house md5 contract
    * (`md5("i_j")` parity) and is computed ONCE driver-side —
    * outDim × dim values, the same bounded-model contract as IVF's
    * driver-resident centroids — then embedded as a literal, making
    * projection one map-side codegen'd pass: no shuffle, no per-row
    * hashing, output nVec × outDim rows.
    */
  def randomProjection(spark: SparkSession, dir: String, outDim: Int = 8): DataFrame = {
    // matches SQL md5() on UTF-8 bytes: first 8 lowercase hex digits → parity
    def sign(i: Int, j: Int): Long = {
      val hex = java.util.HexFormat.of().formatHex(java.security.MessageDigest
        .getInstance("MD5").digest(s"${i}_${j}".getBytes("UTF-8")), 0, 4)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
    }
    // fixed corpus width read once (1-row driver lookup, bounded)
    val dim = Tables(spark, dir, "embeddings")
      .select(size(col("embedding"))).head().getInt(0)
    val signs = array((0 until outDim).map(j =>
      array((0 until dim).map(i => lit(sign(i, j))): _*)): _*)
    val (codes, _) = quantize(col("embedding"))
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), codes.as("codes"))
      .select(col("vec_id"), posexplode(transform(sequence(lit(0), lit(outDim - 1)),
        j => aggregate(sequence(lit(0), lit(dim - 1)), lit(0L),
          (acc, i) => acc +
            element_at(element_at(signs, j + 1), i + 1) *
              element_at(col("codes"), i + 1).cast("long")))))
      .select(col("vec_id"), col("pos").as("j"), col("col").as("proj"))
  }

  /** BINARY (sign-bit) quantization + Hamming kNN — the most aggressive
    * point on the embedding-compression ladder (int8 → PQ → 1 bit/dim):
    * each 64-dim float vector packs to TWO 32-bit words (sign bit per
    * dimension), and similarity is Hamming distance — `bit_count(a ^
    * b)` per word, integer XOR + popcount instead of 64 float
    * multiplies, on 8 bytes instead of 256. Sign-cosine is a standard
    * LSH bound (Charikar 2002 SimHash: P[bits agree] = 1 − θ/π), so
    * Hamming rank approximates cosine rank at 1/32 the bytes — the
    * first-pass filter of a two-stage retrieval at 100 TB scale.
    *
    * Packing runs in exact double arithmetic (each word ≤ 2^32 — every
    * step exact in IEEE doubles on BOTH engines), so codes, distances,
    * and ranks hash-match the DuckDB oracle bit-for-bit. 32-bit halves
    * rather than one 64-bit word: a sign bit at position 63 would need
    * the unrepresentable 2^63 step and ANSI-mode overflow semantics.
    */
  def binaryKnn(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    def pack(from: Int): Column =
      aggregate(sequence(lit(from), lit(from + 31)), lit(0d),
        (acc, i) => acc + when(element_at(col("embedding"), i + 1).cast("double") > 0d,
          pow(lit(2d), (i - lit(from)).cast("double"))).otherwise(lit(0d)))
        .cast("long")
    val packed = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), pack(0).as("w0"), pack(32).as("w1"))
    val queries = packed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("w0").as("qw0"), col("w1").as("qw1"))
    val scored = packed.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("hamming",
        (bit_count(col("w0").bitwiseXOR(col("qw0"))) +
          bit_count(col("w1").bitwiseXOR(col("qw1")))).cast("int"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("hamming").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"), col("hamming"))
  }

  /** Quantization error profile — the acceptance gate a quantized layout
    * ships behind: per-vector worst absolute reconstruction error
    * (`max |x_i − q_i·scale/127|`, bounded by scale/254 + float ulps) and
    * the float-vs-int8 cosine of each vector against a fixed probe
    * vector, aggregated to corpus-level maxima. One scan, one 1-row
    * aggregate; deterministic, oracle-checked.
    */
  def quantError(spark: SparkSession, dir: String): DataFrame = {
    val (codes, scale) = quantize(col("embedding"))
    val v = col("embedding").cast("array<double>")
    val deq = transform(col("codes"), q => q.cast("double") * col("scale") / lit(127d))
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), v.as("v"), codes.as("codes"), scale.as("scale"))
      .withColumn("recon_err",
        coalesce(array_max(zip_with(col("v"), deq, (a, b) => abs(a - b))), lit(0d)))
      // scale/254 is the half-step bound; all-zero vectors have error 0
      .withColumn("err_bound", col("scale") / lit(254d) + lit(1e-9))
    emb.agg(
      count(lit(1)).as("n_vectors"),
      max(col("recon_err")).as("max_recon_err"),
      sum(when(col("recon_err") <= col("err_bound"), 0L).otherwise(1L)).as("n_over_bound"))
  }
}
