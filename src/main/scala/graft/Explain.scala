package graft

/** Plan-inspection utility: prints the formatted physical plan for the
  * named queries (or all), in name order, against a given sf dir. Used
  * to audit that scans prune/push down, dimension joins broadcast, and
  * operators stay inside whole-stage codegen — the "is this the plan
  * you'd want at 100 TB" review from SURVEY §7.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]; an unknown
  * name fails the run before any plan prints. A query whose plan fails
  * to build prints `EXPLAIN FAILED`, and the run exits 1 once every name
  * has printed.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val all = SparkEntry.registry.map(_.name).sorted
    val names = Bench.only(all, Option.when(args.length > 1)(args.tail.toSeq)).getOrElse(all)
    // shared config surface so the audited plans are the ones Bench runs
    val spark = GraftSession.local(4)
    val failed = names.count { name =>
      println(s"\n===================== $name =====================")
      try {
        println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        false
      } catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}"); true }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
