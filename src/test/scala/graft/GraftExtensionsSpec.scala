package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, StandardizeRaceId}
import graft.plans.GraftExtensions

/** The injected optimizer rule collapses nested standardize_race_id. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("CollapseStandardizeRaceId fires via SparkSessionExtensions") {
    // force a NEW session with the extensions installed (getOrCreate would
    // return the shared suite session otherwise); the underlying
    // SparkContext is reused, so this is cheap
    val prior = SparkSession.getActiveSession.orElse(Some(TestSpark.spark))
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import org.apache.spark.sql.functions._
      // parquet-backed input: literals would be constant-folded wholesale
      val df = graft.sources.Tables(spark, TestSpark.sf0001, "part").select(
        GraftFunctions.standardize_race_id(
          GraftFunctions.standardize_race_id(col("p_name"))).as("x"))
      val optimized = df.queryExecution.optimizedPlan
      val nCalls = optimized.expressions.map(e =>
        e.collect { case StandardizeRaceId(_) => 1 }.sum).sum
      assert(nCalls == 1, s"nested call not collapsed:\n$optimized")
      assert(df.count() > 0)
    } finally {
      // do not stop(): the SparkContext is shared with the other suites;
      // restore the suite session as active/default
      prior.foreach { s =>
        SparkSession.setActiveSession(s)
        SparkSession.setDefaultSession(s)
      }
    }
  }

  test("injected functions resolve in SQL text with no per-session register call") {
    val prior = SparkSession.getActiveSession.orElse(Some(TestSpark.spark))
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      graft.sources.Tables(spark, TestSpark.sf0001, "embeddings")
        .createOrReplaceTempView("ext_emb")
      // deliberately NO GraftSession.register(spark): resolution must come
      // from the injected catalog entries alone
      val rows = spark.sql(
        """SELECT standardize_race_id('Cup 25') AS norm,
          |  dot_product(embedding, embedding) AS sq
          |FROM ext_emb LIMIT 5""".stripMargin).collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.getString(0) == "cup25"))
      assert(rows.forall(_.getDouble(1) > 0))
    } finally {
      prior.foreach { s =>
        SparkSession.setActiveSession(s)
        SparkSession.setDefaultSession(s)
      }
    }
  }

  test("both routes register the one function table behind the arity guard") {
    def wrongArity(spark: SparkSession, route: String): Unit =
      GraftFunctions.sqlFunctions.foreach { f =>
        val args = Seq.fill(f.n + 1)("1").mkString(", ")
        val e = intercept[Exception](spark.sql(s"SELECT ${f.name}($args)").collect())
        assert(e.getMessage.contains(
          s"Invalid number of arguments for function ${f.name}: expected ${f.n}"),
          s"$route route, ${f.name}: ${e.getMessage}")
      }
    GraftFunctions.register(TestSpark.spark)
    wrongArity(TestSpark.spark, "register")
    val prior = SparkSession.getActiveSession.orElse(Some(TestSpark.spark))
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try wrongArity(spark, "extension")
    finally prior.foreach { s =>
      SparkSession.setActiveSession(s)
      SparkSession.setDefaultSession(s)
    }
  }
}
