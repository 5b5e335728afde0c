package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, to_json}
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Also writes
  * queries.json (the declared query manifest) and _failures.json so a
  * query that throws shows up as a FAIL instead of silently vanishing
  * from the dump set (ADVICE r01). A non-empty _failures.json makes the
  * run exit 1, after all four manifests are written.
  */
object Verify {
  import JsonText.{quote => q}

  /** The driver loads each dump into pandas and sorts rows; struct/map/
    * array columns arrive as unhashable dict/list values and crash the
    * sort (r01: q_pipeline_parity's LocationData). Serialize any nested
    * column to its JSON text — deterministic, and no oracle'd query
    * returns a nested type, so hash-compares are unaffected.
    */
  private def flattenNested(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: StructType | _: MapType | _: ArrayType => to_json(col(s"`${f.name}`")).as(f.name)
        case _ => col(s"`${f.name}`")
      }
    }
    df.select(cols.toSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val all = SparkEntry.registry.map(_.name)
    val names = Bench.only(all).getOrElse(all)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.foreach { name =>
      try flattenNested(SparkEntry.queries(name)(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = Bench.failure(e, max = 500)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // the manifest and oracle set honor the same filter as the dumps —
    // otherwise a SPARK_GRAFT_ONLY dev run declares the full surface and
    // compare_oracle.py drowns the one result in MISSING-DUMP failures
    val selected = names.toSet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      names.sorted.map(q).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/_failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // cautionary-plan tags: which queries are kept as measurable
    // scale-antipattern twins, and which sibling is the production plan
    Files.writeString(Paths.get(s"$outDir/query_meta.json"),
      SparkEntry.registry
        .flatMap(spec => spec.cautionaryTwin.map(twin =>
          s"${q(spec.name)}: {${q("cautionary")}: true, ${q("production_twin")}: ${q(twin)}}"))
        .mkString("{", ",", "}"))
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
