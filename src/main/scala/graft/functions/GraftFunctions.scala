package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Column-level entry points for graft's custom Catalyst expressions, plus
  * SQL registration. Keep every custom scalar here so sessions register one
  * set of functions.
  */
object GraftFunctions {

  /** `standardize_race_id` as a native codegen'd Catalyst expression. */
  def standardize_race_id(c: Column): Column =
    ColumnBridge.column(StandardizeRaceId(ColumnBridge.expression(c)))

  /** Same semantics as [[standardize_race_id]] but composed purely from
    * built-in Column functions — the differential-test partner for the
    * custom expression (SURVEY §4.2) and proof the op needs no UDF at all.
    */
  def standardizeRaceIdColumns(c: Column): Column = {
    val t = trim(c)
    val word = lower(regexp_replace(t, "[^A-Za-z]+", ""))
    val digits = regexp_replace(t, "[^0-9]+", "")
    when(length(word) > 0 && length(digits) > 0, concat(word, digits))
      .otherwise(lower(regexp_replace(t, "[^0-9a-zA-Z]+", "")))
  }

  /** The same normalization as a classic Scala UDF — the general escape
    * hatch when logic can't be a Column expression. Exists to complete the
    * UDF surface (and as a benchmark foil: the Expression version stays in
    * codegen, this one pays serialization per row — prefer the Expression).
    */
  val standardizeRaceIdUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => if (s == null) null else StandardizeRaceId.normalize(s))

  /** Deterministic hash bucket in [0, buckets): first 8 hex digits of
    * md5(key as string). THE shared contract for reproducible splits and
    * samples (`TextAnalysis.deterministicSplit`, `Sampling`) — every
    * DuckDB oracle replicates this exact arithmetic, so there must be
    * one copy of it.
    */
  def md5Bucket(key: Column, buckets: Int = 10000): Column =
    (conv(substring(md5(key.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % buckets).cast("int")

  /** One SQL function of [[sqlFunctions]]: its name, the expression
    * class the extension route's `ExpressionInfo` names, its arity and
    * its builder.
    */
  private[graft] final case class SqlFunction(name: String, cls: Class[_], n: Int,
      build: Seq[Expression] => Expression) {
    /** [[build]] behind the arity guard. */
    def builder: Seq[Expression] => Expression = exprs => { arity(name, exprs, n); build(exprs) }
  }

  // explicit arity check: a bare exprs.head/exprs(1) surfaces an
  // IndexOutOfBoundsException from the resolver where every built-in
  // gives a clear invalid-arguments analysis error
  private def arity(name: String, exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n)
      throw new IllegalArgumentException(
        s"Invalid number of arguments for function $name: expected $n, got ${exprs.length}")

  /** The SQL functions both routes register: [[register]] (per-session
    * temp functions) and [[graft.plans.GraftExtensions]] (injected into
    * every session built with the extension).
    */
  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction("standardize_race_id", classOf[StandardizeRaceId], 1,
      e => StandardizeRaceId(e.head)),
    // SQL text surface for the vector expression: SELECT dot_product(a, b)
    SqlFunction("dot_product", classOf[DotProduct], 2, e => DotProduct(e.head, e(1))),
    SqlFunction("jaro_winkler", classOf[JaroWinklerSimilarity], 2,
      e => JaroWinklerSimilarity(e.head, e(1))),
    // Spark's runtime-filter bloom pair, surfaced as SQL text: the engine
    // ships them only as internal expressions (InjectRuntimeFilter plants
    // them), but the explicit semi-join-reduction verb needs them callable —
    // build the filter with one distributed aggregate, probe it map-side
    // via a scalar subquery (BloomFilterMightContain accepts exactly
    // foldables and subqueries, so the probe never needs a driver literal).
    SqlFunction("graft_bloom_agg", classOf[BloomFilterAggregate], 3,
      e => new BloomFilterAggregate(e.head, e(1), e(2))),
    SqlFunction("graft_might_contain", classOf[BloomFilterMightContain], 2,
      e => BloomFilterMightContain(e.head, e(1))))

  /** Register all custom functions for SQL use (idempotent). */
  def register(spark: SparkSession): Unit = {
    sqlFunctions.foreach(f => spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(f.name, f.builder, "scala_udf"))
    spark.udf.register("standardize_race_id_udf", standardizeRaceIdUdf)
  }
}
