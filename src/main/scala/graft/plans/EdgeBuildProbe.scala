package graft.plans

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.sources.Tables

/** One-off plan probe for the graph tier's shared co-order edge build
  * (Analytics.coOrderEdges): prints the physical plan of the OLD
  * distinct + self-join + aggregate formulation next to the NEW basket
  * formulation (groupBy(order) + in-array pair explode + aggregate),
  * WITHOUT the trailing localCheckpoint so the build shape is visible
  * (the checkpoint truncates every consumer's plan to a LogicalRDD).
  * Committed because plans/r15/coorder_edges_{before,after}.txt are
  * generated from it; not part of any query path.
  */
object EdgeBuildProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(4)
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val old = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
      .select(col("a"), col("b"))
    val basket = Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (a, i) -> transform(slice(ps, i + 2, size(ps)), " +
          "b -> struct(a AS a, b AS b))))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
      .select(col("a"), col("b"))
    println("===================== coorder_edges_before =====================")
    println(old.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    println("===================== coorder_edges_after =====================")
    println(basket.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    spark.stop()
  }
}
