package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.FanPipeline
import graft.sources.{CsvSource, JsonlSink, ParquetSink, Scratch, Tables}

/** Source/sink edge cases (FIXTURES §A4): permissive JSON drop semantics,
  * filter whitespace handling, missing-field behavior, sniffing CSV reads
  * at the distributed path, parquet round-trips.
  */
class SourcesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def tmpFile(suffix: String, content: String): String = {
    val p = Files.createTempFile("graft-src-", suffix)
    Files.writeString(p, content)
    p.toString
  }

  test("JSON scan drops malformed lines and non-object JSON") {
    val path = tmpFile(".json",
      """{"FanID":"F1","DeviceType":"Mobile","RaceID":"Cup 25"}
        |not json at all
        |[1,2,3]
        |42
        |{"FanID":"F2","DeviceType":"Other","RaceID":"x"}
        |{"FanID":"F3"}
        |""".stripMargin)
    val df = FanPipeline.readEvents(spark, path)
    assert(df.count() == 3) // F1, F2, F3 survive; 3 bad lines dropped
    // missing fields → null, row kept
    assert(df.filter(col("FanID") === "F3" && col("DeviceType").isNull).count() == 1)
  }

  test("device filter: whitespace-padded 'Other' dropped, missing kept") {
    val path = tmpFile(".json",
      """{"FanID":"F1","DeviceType":" Other "}
        |{"FanID":"F2","DeviceType":"OTHER"}
        |{"FanID":"F3"}
        |{"FanID":"F4","DeviceType":"Mobile"}
        |""".stripMargin)
    val kept = FanPipeline.readEvents(spark, path)
      .filter(FanPipeline.deviceFilter)
      .select(col("FanID")).collect().map(_.getString(0)).sorted
    // " Other " trimmed → dropped; "OTHER" ≠ "Other" (case-sensitive) → kept
    assert(kept.toSeq == Seq("F2", "F3", "F4"))
  }

  test("CsvSource sniffs non-comma delimiters on a distributed read") {
    for (d <- Seq(";", "|", "\t")) {
      val path = tmpFile(".csv", s"a${d}b${d}c\n1${d}2${d}3\n4${d}5${d}6\n")
      val df = CsvSource.read(spark, path)
      assert(df.columns.toSeq == Seq("a", "b", "c"), s"delimiter '$d'")
      assert(df.count() == 2)
    }
  }

  test("parquet sink round-trip preserves data, partitionBy prunes") {
    val out = Files.createTempDirectory("graft-pq-").toString
    val orders = Tables(spark, TestSpark.sf0001, "orders")
    ParquetSink.write(orders, out, partitionBy = Seq("o_orderstatus"))
    val back = ParquetSink.read(spark, out)
    assert(back.count() == orders.count())
    val statuses = back.select("o_orderstatus").distinct().count()
    assert(statuses == 3)
    // partition pruning visible in the plan: a status filter reads 1 dir
    val plan = back.filter(col("o_orderstatus") === "F")
      .queryExecution.executedPlan.toString
    assert(back.filter(col("o_orderstatus") === "F").count() ==
      orders.filter(col("o_orderstatus") === "F").count())
    assert(plan.contains("o_orderstatus"))
  }

  test("single-shard JSONL sink content is valid NDJSON with nulls kept") {
    import spark.implicits._
    val df = Seq(("a", Option(1L)), ("b", None)).toDF("k", "v")
    val out = Files.createTempDirectory("graft-jsonl-t-").toString
    graft.sources.JsonlSink.write(df, out, "t")
    val lines = Files.readAllLines(java.nio.file.Paths.get(out, "t-00000-of-00001.jsonl"))
    assert(lines.size() == 2)
    assert(lines.stream().anyMatch(_.contains("\"v\":null")))
  }

  /** The lines a single task walking `df`'s partitions in order would write. */
  private def serializedLines(df: DataFrame, pythonStyle: Boolean): Seq[String] =
    if (pythonStyle) df.collect().toSeq.map(JsonlSink.pythonJson(_, df.schema))
    else df.select(to_json(struct(df.columns.map(col): _*),
      Map("ignoreNullFields" -> "false"))).collect().toSeq.map(_.getString(0))

  test("JSONL sink joins a 16-partition write into one shard in partition order") {
    val df = spark.range(0, 10000, 1, 16)
      .withColumn("s", concat(lit("row-"), col("id").cast("string")))
    for (pythonStyle <- Seq(false, true)) {
      val out = Files.createTempDirectory("graft-jsonl-order-").toFile
      val path = JsonlSink.write(df, out.toString, "t", pythonStyle)
      val expected = serializedLines(df, pythonStyle).mkString("", "\n", "\n")
      assert(new String(Files.readAllBytes(Paths.get(path)), UTF_8) == expected,
        s"pythonStyle=$pythonStyle")
      // the scratch dir holding the part files is gone
      assert(out.list().toSeq == Seq("t-00000-of-00001.jsonl"))
    }
  }

  test("JSONL sink orders part files by numeric partition, then file, index") {
    val dir = Files.createTempDirectory("graft-jsonl-names-")
    val names = Seq("part-100000-j-c000.txt", "part-99999-j-c000.txt",
      "part-00002-j-c010.txt", "part-00002-j-c009.txt", "_SUCCESS", ".part-00002-j-c009.txt.crc")
    names.foreach(n => Files.createFile(dir.resolve(n)))
    assert(JsonlSink.partsInOrder(dir).map(_.getFileName.toString) == Seq(
      "part-00002-j-c009.txt", "part-00002-j-c010.txt", "part-99999-j-c000.txt",
      "part-100000-j-c000.txt"))
    // a part file the sink cannot place fails the write instead of going missing
    Files.createFile(dir.resolve("part-00003-j-c000.txt.gz"))
    intercept[IllegalStateException](JsonlSink.partsInOrder(dir))
  }

  test("JSONL sink: empty input gives a 0-byte shard") {
    // four empty partitions, and a plan with no partitions at all
    for (empty <- Seq(spark.range(0, 0, 1, 4).toDF(), spark.range(10).limit(0).toDF())) {
      val out = Files.createTempDirectory("graft-jsonl-empty-").toFile
      val path = Paths.get(JsonlSink.write(empty, out.toString, "t"))
      assert(path == Paths.get(out.toString, "t-00000-of-00001.jsonl"))
      assert(Files.size(path) == 0)
      assert(out.list().toSeq == Seq("t-00000-of-00001.jsonl"))
    }
  }

  test("JSONL sink: a write failing in a task leaves no shard and no scratch dir") {
    val out = Files.createTempDirectory("graft-jsonl-fail-").toFile
    val bad = spark.range(0, 100, 1, 1)
      .select(when(col("id") === 50, raise_error(lit("boom"))).otherwise(col("id")).as("v"))
    intercept[Exception](JsonlSink.write(bad, out.toString, "t"))
    assert(out.list().isEmpty, out.list().mkString(", "))
  }

  test("JSONL sink writes each input partition in its own task") {
    val sc = spark.sparkContext
    val group = Scratch.uniqueName("jsonl-parallel")
    val jobs, stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobsEnded, tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          e.stageIds.foreach(stages.add)
          jobs.add(e.jobId)
        }
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (stages.contains(e.stageId)) tasks.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) jobsEnded.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val df = spark.range(0, 1000, 1, 4).withColumn("s", col("id").cast("string"))
      sc.setJobGroup(group, "JSONL sink parallel write")
      try JsonlSink.write(df, Files.createTempDirectory("graft-jsonl-par-").toString, "t")
      finally sc.clearJobGroup()
      // listener events arrive asynchronously; a job's task events precede its end
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ((jobs.isEmpty || jobsEnded.get < jobs.size) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.size == 1)
      assert(tasks.get == 4)
    } finally sc.removeSparkListener(listener)
  }

  test("Tables.spread spreads a many-file scan too, rows unchanged") {
    val cores = spark.sparkContext.defaultParallelism
    val dir = new java.io.File(sys.props("java.io.tmpdir"), Scratch.uniqueName("graft-spread"))
    Scratch.using(dir) {
      Tables(spark, TestSpark.sf0001, "documents").repartition(2 * cores)
        .write.parquet(s"$dir/documents.parquet")
      assert(Tables(spark, dir.toString, "documents").inputFiles.length >= cores)
      // passing many-file scans through was measured no faster (see Tables.spread)
      for (name <- Seq("q_image_decode", "q_minhash_sig")) {
        val q = SparkEntry.queries(name)
        val many = q(spark, dir.toString)
        assert(many.queryExecution.sparkPlan.toString.contains(s"RoundRobinPartitioning($cores)"),
          s"$name does not spread a many-file scan to $cores partitions")
        def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
        assert(rows(many) == rows(q(spark, TestSpark.sf0001)), name)
      }
    }
  }

  test("Tables decodes events.ts the same from long nanos and TIMESTAMP(MICROS)") {
    import spark.implicits._
    // whole-micro instants, one before the epoch; both layouts hold them exactly
    val us = Seq(-86400000001L, 0L, 1L, 999999L, 1700000000123456L)
    val root = new java.io.File(sys.props("java.io.tmpdir"), Scratch.uniqueName("graft-ts"))
    Scratch.using(root) {
      val base = us.zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("event_id", "us")
      // EdgeFixtureSpec's layout, then the testdata layout
      base.select(col("event_id"), (col("us") * 1000L).as("ts"))
        .write.parquet(s"$root/nanos/events.parquet")
      base.select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
        .write.parquet(s"$root/micros/events.parquet")
      def decoded(layout: String) = {
        val raw = Tables.raw(spark, s"$root/$layout", "events")
        val ts = Tables(spark, s"$root/$layout", "events").orderBy("event_id")
          .select(col("ts")).as[java.time.LocalDateTime].collect().toSeq
        // a row built in the storage layout decodes to the micros it was built from
        val built = spark.range(1).select(
          Tables.storedTs(raw, us.last).cast(raw.schema("ts").dataType).as("ts"))
        (raw.schema("ts").dataType.typeName,
          raw.orderBy("event_id").select(Tables.micros(raw)).as[Long].collect().toSeq :+
            built.select(Tables.micros(built)).as[Long].head(), ts)
      }
      val (nanosType, nanosUs, nanosTs) = decoded("nanos")
      val (microsType, microsUs, microsTs) = decoded("micros")
      assert((nanosType, microsType) == ("long", "timestamp_ntz"))
      assert(nanosUs == us :+ us.last && microsUs == us :+ us.last)
      assert(nanosTs == microsTs)
      assert(microsTs.head == java.time.LocalDateTime.of(1969, 12, 30, 23, 59, 59, 999999000))
    }
  }

  test("binaryFile ingestion: glob prunes at listing, metadata length is exact") {
    import org.apache.spark.sql.functions.col
    val rows = graft.sources.BinaryFiles.ingestDocs(spark, TestSpark.sf0001, docCap = 20)
      .collect()
    assert(rows.length == 20)
    // plant a non-matching file next to the staged .bin files; the glob
    // filter must exclude it at LISTING time (re-run sees the same 20)
    java.nio.file.Files.write(
      new java.io.File(graft.sources.BinaryFiles.stageFor(TestSpark.sf0001, 20),
        "decoy.tmp").toPath,
      "not media".getBytes("UTF-8"))
    val again = graft.sources.BinaryFiles.ingestDocs(spark, TestSpark.sf0001, docCap = 20)
    assert(again.count() == 20, "pathGlobFilter must prune the decoy at listing time")
    // staging is keyed by corpus too: a second source dir at the same cap
    // must not inherit the first corpus's staged files
    assert(graft.sources.BinaryFiles.stageFor("/root/testdata/sf0.01", 20).getAbsolutePath
      != graft.sources.BinaryFiles.stageFor(TestSpark.sf0001, 20).getAbsolutePath)
    val docs = graft.sources.Tables(spark, TestSpark.sf0001, "documents")
      .filter(col("doc_id") < 20).select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      assert(r.getInt(1) == docs(r.getLong(0)).getBytes("UTF-8").length,
        s"doc ${r.getLong(0)}: binaryFile length metadata wrong")
    }
  }
}
