package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, to_json}
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

import graft.{Bench, GraftSession, SparkEntry}
import graft.pipeline.FanPipeline
import graft.sources.CountryLut

/** One benchmark run in one JVM, driven by `perfbench/run.py`.
  *
  * Sets the session up once, cold, and records the wall-clock instant the
  * session is tuned and registered (`run.py` measures `setup_s` from the
  * process launch to that instant). With `--setup-only 1` it stops there.
  * Otherwise it runs one cold pass over the workload's operations (writing
  * query results for the output check), then
  * `--warmup-passes` untimed warm-up passes, then measured warm passes
  * until `--seconds` have passed and at least three ran, and writes
  * everything it measured to `<out>/result.json`. With `--trace 1` every
  * other warm pass runs with the [[Recorder]] listeners attached and the
  * result also carries their per-operation counters.
  *
  * Arguments (all `--key value`): `out`, `seconds`, `warmup-passes`,
  * `trace`, `setup-only`; `fan` (input dir) for `fan_etl`; `tables` and
  * `queries` (comma list) otherwise; `calib` (a table dir with
  * `lineitem.parquet`) for the traced run. `SPARK_GRAFT_CPUS` sets the
  * local core count.
  */
object Harness {

  /** One timed operation. `parts` holds named sub-timings in seconds. */
  final case class Op(name: String, seq: Int, seconds: Double, parts: Map[String, Double],
                      error: Option[String], outLines: Long = -1, outBytes: Long = -1)

  final case class Pass(wall: Double, traced: Boolean, ops: Seq[Op])

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def force(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  /** Nested columns as JSON text, so the check can sort rows in pandas. */
  private def flattenNested(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: StructType | _: MapType | _: ArrayType => to_json(col(s"`${f.name}`")).as(f.name)
        case _ => col(s"`${f.name}`")
      }
    }: _*)

  private def peakRssKb(): Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1L
    else scala.io.Source.fromFile(status.toFile).getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    // the same core count GraftSession.tune reads for shuffle partitions
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

    // --- the cold set-up of this fresh JVM
    val t0 = System.nanoTime()
    val spark = GraftSession.tune(SparkSession.builder().master(s"local[$cores]").appName("perfbench"))
      .getOrCreate()
    val create = secs(t0)
    val t1 = System.nanoTime()
    GraftSession.register(spark)
    val register = secs(t1)
    val now = java.time.Instant.now()
    val setup = Json.obj("create" -> create, "register" -> register,
      "registered_epoch_s" -> (now.getEpochSecond + now.getNano / 1e9))
    if (opt.getOrElse("setup-only", "0") == "1") {
      spark.stop()
      Files.writeString(out.resolve("result.json"), Json.obj("setup" -> setup).text)
      return
    }
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"

    val rec = new Recorder
    var seq = 0
    def phase(p: String): Unit = sc.setLocalProperty(Recorder.PhaseKey, p)

    /** Run `body` as operation `seq`; in a traced pass its jobs carry the
      * seq so the recorder can attribute them.
      */
    def operation(name: String, tracedPass: Boolean)(body: mutable.Map[String, Double] => Unit): Op = {
      seq += 1
      sc.setLocalProperty(Recorder.SeqKey, if (tracedPass) seq.toString else null)
      if (tracedPass) rec.opBegin(seq)
      val parts = mutable.LinkedHashMap.empty[String, Double]
      val t0 = System.nanoTime()
      val error = try { body(parts); None } catch { case e: Throwable => Some(errText(e)) }
      val total = secs(t0)
      if (tracedPass) rec.opEnd(seq)
      sc.setLocalProperty(Recorder.SeqKey, null)
      phase(null)
      // fan_etl's traced op also runs the split passes; its latency is `run`
      Op(name, seq, parts.getOrElse("run", total), parts.toMap, error)
    }

    def timed(parts: mutable.Map[String, Double], key: String)(body: => Unit): Unit = {
      phase(key)
      val t0 = System.nanoTime()
      body
      parts(key) = secs(t0)
    }

    // --- the workload's operations
    val fanDir = opt.get("fan")
    val fanOut = out.resolve("fan_out")
    def fanGlob = s"${fanDir.get}/*_fan_engagement-000-of-001.json"
    def fanCsv = s"${fanDir.get}/country_data.csv"
    val queries = opt.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val tables = opt.getOrElse("tables", "")

    /** fan_etl: the pipeline's `run`; traced, the read / transform / run
      * split passes around it.
      */
    def fanOp(tracedPass: Boolean): Op = {
      val op = operation("fan_pipeline_run", tracedPass) { parts =>
        if (tracedPass) {
          timed(parts, "lut")(CountryLut.df(spark, fanCsv))
          timed(parts, "read")(force(FanPipeline.readEvents(spark, fanGlob)))
          timed(parts, "transform")(force(FanPipeline.transform(
            FanPipeline.readEvents(spark, fanGlob), CountryLut.df(spark, fanCsv))))
        }
        timed(parts, "run")(FanPipeline.run(spark, fanGlob, fanCsv, fanOut.toString))
      }
      val file = fanOut.resolve("result-00000-of-00001.jsonl")
      if (op.error.isEmpty && Files.exists(file))
        op.copy(outLines = scala.util.Using.resource(Files.lines(file))(_.count()),
          outBytes = Files.size(file))
      else op
    }

    /** A query: build its DataFrame, then execute it through the noop
      * sink - or, in the cold pass, into parquet for the output check.
      */
    def queryOp(name: String, tracedPass: Boolean, dump: Boolean): Op =
      operation(name, tracedPass) { parts =>
        val fn = SparkEntry.queries(name)
        var df: DataFrame = null
        timed(parts, "build") { df = fn(spark, tables) }
        timed(parts, "exec") {
          if (dump) flattenNested(df).write.mode("overwrite")
            .parquet(out.resolve("check").resolve(name).toString)
          else force(df)
        }
      }

    def runPass(tracedPass: Boolean, dump: Boolean = false): Pass = {
      if (tracedPass) { sc.addSparkListener(rec); spark.listenerManager.register(rec) }
      val t0 = System.nanoTime()
      val ops = if (fanDir.isDefined) Seq(fanOp(tracedPass)) else queries.map(queryOp(_, tracedPass, dump))
      val wall = secs(t0)
      if (tracedPass) {
        if (!rec.drain()) System.err.println("[perfbench] listener did not drain")
        spark.listenerManager.unregister(rec)
        sc.removeSparkListener(rec)
      }
      Pass(wall, tracedPass, ops)
    }

    // the cold pass in the fresh JVM doubles as the check pass: its query
    // results go to parquet for the DuckDB oracle (fan_etl's every run
    // writes JSONL anyway)
    val first = runPass(tracedPass = false, dump = true)
    // untimed warm-up: JIT compilation keeps speeding passes up for several
    // passes after the cold one. A fixed count, not a time, so every run is
    // measured from the same point of that curve.
    val warmups = opt.getOrElse("warmup-passes", "1").toInt
    (1 to warmups).foreach(_ => runPass(tracedPass = false))
    // at least three measured passes, so one slow pass cannot be the median
    val warm = mutable.ArrayBuffer.empty[Pass]
    val tWarm = System.nanoTime()
    while (warm.length < 3 || secs(tWarm) < seconds ||
      (traced && (warm.count(_.traced) == 0 || warm.count(!_.traced) == 0))) {
      // traced runs alternate untraced and traced passes, so load drift
      // falls on both sides of trace.overhead_frac alike
      warm += runPass(tracedPass = traced && warm.length % 2 == 1)
    }

    // --- traced extras: the pinned calibration probe and pipeline row counts
    val calib = if (traced) opt.get("calib").toSeq.flatMap { dir =>
      (1 to 3).map { _ => val t0 = System.nanoTime(); Bench.calibrationProbe(spark, dir); secs(t0) }
    } else Seq.empty
    val fanCounts: Map[String, Long] = if (traced && fanDir.isDefined) {
      val parsed = FanPipeline.readEvents(spark, fanGlob).filter(col("FanID").isNotNull).count()
      val kept = FanPipeline.readEvents(spark, fanGlob).filter(FanPipeline.deviceFilter).count()
      val lines = spark.read.text(fanGlob).count()
      Map("rows_in" -> lines, "malformed_rows" -> (lines - parsed), "other_rows" -> (parsed - kept))
    } else Map.empty
    val stats = if (traced) rec.snapshot else Map.empty[Int, OpStats]
    val rss = peakRssKb()
    spark.stop()

    val json = Json.obj(
      "setup" -> setup,
      "first_pass" -> passJson(first),
      "warmup_passes" -> warmups,
      "passes" -> warm.map(passJson).toSeq,
      "oracle_sql" -> Json.obj(queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)): _*),
      "peak_rss_kb" -> rss,
      "calib" -> calib,
      "fan_counts" -> Json.obj(fanCounts.toSeq.map { case (k, v) => k -> (v: Any) }: _*),
      "op_stats" -> Json.obj(stats.toSeq.sortBy(_._1).map { case (k, s) => k.toString -> statsJson(s) }: _*))
    Files.writeString(out.resolve("result.json"), json.text)
  }

  private def passJson(p: Pass): Json.Raw = Json.obj(
    "wall" -> p.wall, "traced" -> p.traced,
    "ops" -> p.ops.map { o =>
      Json.obj("name" -> o.name, "seq" -> o.seq, "s" -> o.seconds, "error" -> o.error.orNull,
        "parts" -> Json.obj(o.parts.toSeq.map { case (k, v) => k -> (v: Any) }: _*),
        "out_lines" -> o.outLines, "out_bytes" -> o.outBytes)
    })

  private def statsJson(s: OpStats): Json.Raw = Json.obj(
    "jobs" -> s.jobs, "build_jobs" -> s.buildJobs, "stages" -> s.stages, "tasks" -> s.tasks,
    "job_wall_ms" -> s.wallMs(s.jobIntervals.toSeq), "run_job_wall_ms" -> s.wallMs(s.runIntervals.toSeq),
    "task_run_ms" -> s.taskRunMs, "run_task_run_ms" -> s.runTaskRunMs, "task_cpu_ns" -> s.taskCpuNs,
    "gc_ms" -> s.gcMs, "shuffle_read_bytes" -> s.shuffleRead, "shuffle_write_bytes" -> s.shuffleWrite,
    "spill_bytes" -> s.spill, "input_bytes" -> s.inputBytes, "output_bytes" -> s.outputBytes,
    "sql_executions" -> s.sqlExecutions, "plan_ms" -> s.planMs, "batches" -> s.batches,
    "add_batch_ms" -> s.addBatchMs, "planning_ms" -> s.planningMs, "wal_commit_ms" -> s.walCommitMs,
    "commit_offsets_ms" -> s.commitOffsetsMs, "trigger_ms" -> s.triggerMs,
    "state_rows" -> s.stateRows, "state_bytes" -> s.stateBytes)
}

/** Just enough JSON writing for the result file. */
object Json {
  final case class Raw(text: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${graft.JsonText.quote(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(text) => text
    case s: String => graft.JsonText.quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => graft.JsonText.quote(other.toString)
  }
}
