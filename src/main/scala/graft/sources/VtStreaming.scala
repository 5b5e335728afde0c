package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** STREAMING SOURCE over a versioned table — the "stream a table's
  * commits" capability (Delta/Iceberg streaming-source analog): each
  * manifest version is one micro-batch, whose input is exactly the
  * FILES that version added over the previous one. Offsets are version
  * numbers, so the checkpoint story is trivial and exactly-once
  * composes with any idempotent sink: restart resumes from the last
  * committed version, and a replayed batch re-reads the identical file
  * set.
  *
  * Opt-in via `spark.readStream.option("graft.stream", "true")
  * .table("graft_vt.t")` — the batch read path keeps Spark's own
  * parquet DSv2 scan untouched (stats, DPP, runtime filtering all
  * intact there).
  *
  * Reading delegates to Spark's parquet reader machinery
  * ([[ParquetFileFormat.buildReaderWithPartitionValues]] — the same
  * vectorized reader batch scans use, built once on the driver and
  * shipped as a task closure), so at 100 TB a version's backlog reads
  * with full parallelism: one task per added file, no driver row
  * movement, admission control of one VERSION per micro-batch keeping
  * commit boundaries aligned with batch boundaries.
  *
  * Semantics note: for append-only tables (INSERT INTO / the streaming
  * sink) the added-files feed IS the row-level change feed; a COW
  * rewrite version yields its replacement files — consumers wanting
  * row-level deltas on COW tables read [[VersionedTable.changeFeed]]
  * between the versions instead.
  */
class VtStreamScanBuilder(root: String, schema: StructType) extends ScanBuilder {
  override def build(): Scan = new Scan {
    override def readSchema(): StructType = schema
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new VtMicroBatchStream(root, schema)
    override def description(): String = s"graft_vt stream $root"
  }
}

case class VtVersionOffset(v: Int) extends Offset {
  override def json(): String = v.toString
}

/** One committed VERSION per micro-batch over the table at `root` —
  * batch boundaries ARE commit boundaries, which is what makes
  * per-batch downstream commits line up with upstream transactions.
  * Offsets are version numbers: restart resumes after the last
  * committed version, and a replayed batch re-plans the identical
  * input. Subclasses plan a batch's partitions from its versions.
  */
abstract class VersionPerBatchStream(root: String)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def latest: Int = VersionedTable.latestVersion(root)

  /** Target pinned at Trigger.AvailableNow start: the run drains every
    * version committed BEFORE the trigger, one per batch, then stops —
    * commits landing mid-run wait for the next trigger.
    */
  @volatile private var availableNowTarget: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latest)

  override def initialOffset(): Offset = VtVersionOffset(0)
  override def latestOffset(): Offset = VtVersionOffset(latest)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cap = availableNowTarget.getOrElse(latest)
    VtVersionOffset(math.min(start.asInstanceOf[VtVersionOffset].v + 1, cap))
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def deserializeOffset(json: String): Offset = VtVersionOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class VtMicroBatchStream(root: String, schema: StructType)
  extends VersionPerBatchStream(root) {

  private def files(v: Int): Set[String] =
    if (v <= 0) Set.empty
    else if (!VersionedTable.exists(root, v))
      // retention may have vacuumed old manifests: a missing version
      // contributes no files of its own, and its surviving data (files
      // carried forward) enters the stream at the first RETAINED
      // version's batch — history reads degrade gracefully instead of
      // crashing the first micro-batch
      Set.empty
    else VersionedTable.manifest(root, v).flatMap(ZoneMap.leafFiles(root, _)).toSet

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val added = files(end.asInstanceOf[VtVersionOffset].v) --
      files(start.asInstanceOf[VtVersionOffset].v)
    added.toArray.sorted.map { rel =>
      val f = new java.io.File(s"$root/$rel")
      VtFilePartition(f.getAbsolutePath, f.length()): InputPartition
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    // Spark's own parquet read path, closed over on the driver exactly
    // as FileSourceScanExec does; the closure is designed to ship to
    // executors. Filters/pruning: a streaming consumer of a change feed
    // reads whole files — the downstream query's own operators prune.
    val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Nil,
      // row-iterator contract: we consume rows, not smuggled
      // ColumnarBatches (the reader demands this option be explicit)
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      new Configuration(spark.sessionState.newHadoopConf()))
    VtReaderFactory(readFunc)
  }
}

case class VtFilePartition(path: String, length: Long) extends InputPartition

case class VtReaderFactory(readFunc: PartitionedFile => Iterator[InternalRow])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[VtFilePartition]
    FileRows.reader(FileRows(readFunc, p.path, p.length))
  }
}

/** Rows of one whole parquet file through a reader function built on the
  * driver ([[ParquetFileFormat.buildReaderWithPartitionValues]]), for
  * the custom scans' partition readers.
  */
private[sources] object FileRows {
  /** Every row of the file at `path`, `length` bytes long. The vectorized
    * reader smuggles ColumnarBatch through the InternalRow iterator (the
    * FileScanRDD contract) — flattened here.
    */
  def apply(readFunc: PartitionedFile => Iterator[InternalRow], path: String,
      length: Long): Iterator[InternalRow] =
    readFunc(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      0L, length, Array.empty[String], 0L, length)).flatMap {
      case b: ColumnarBatch => b.rowIterator().asScala
      case r => Iterator.single(r)
    }

  def reader(rows: Iterator[InternalRow]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}
