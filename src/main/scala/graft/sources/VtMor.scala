package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import graft.JsonText.{quote => q}

/** MERGE-ON-READ for the versioned table format — the dual of the
  * copy-on-write tier in [[VtCatalog]]: DML writes DELTAS, reads merge.
  *
  * The table's row-level operations implement [[SupportsDelta]] with
  * the table's LOGICAL KEY as the row id, so Spark's rewrite rules plan
  * each verb as a delta stream — `DELETE` emits only the matched keys,
  * `UPDATE`/`MERGE` emit deletes plus replacement rows — and the write
  * lands as (a) an optional parquet file of NEW rows and (b) KEY
  * TOMBSTONES in the version's `_mor_vN.json` sidecar, each stamped
  * with its commit SEQUENCE. A read of version V suppresses a row of
  * file F iff some tombstone for its key carries a sequence GREATER
  * than F's — which is exactly how an update supersedes the old row
  * (tombstone seq == new file's seq > old file's) without ever touching
  * the old file.
  *
  * THE 100 TB CONTRACT this buys: `DELETE WHERE p` costs one scan of
  * the matching rows plus a write ∝ |matched KEYS| — against
  * copy-on-write's full-group rewrite. `UPDATE` writes only the
  * replacement rows. The price moves to READS, which carry the
  * tombstone set until [[compact]] folds it back in — the
  * read-amplification-vs-write-amplification dial every production
  * format exposes. Tombstones ship to read tasks as one shared
  * structure bounded by compaction cadence (the same contract as
  * shipping delete files); a production refinement prunes the set
  * per-file by key range — zone maps again — before shipping.
  */
object VtMor {

  /** Sidecar per version: file → commit sequence, plus (key, seq)
    * tombstones. Plain JSON, one line of driver IO per commit.
    */
  case class Meta(files: Map[String, Int], tombs: Seq[(Long, Int)]) {
    /** key -> highest tombstone sequence (the only thing reads need). */
    def tombMap: Map[Long, Int] =
      tombs.groupBy(_._1).map { case (k, ts) => k -> ts.map(_._2).max }
  }

  private def metaPath(root: String, version: Int) =
    java.nio.file.Paths.get(s"$root/_mor_v$version.json")

  def writeMeta(root: String, version: Int, meta: Meta): Unit = {
    val fs = meta.files.toSeq.sorted.map { case (f, s) => s"${q(f)}: $s" }
      .mkString("{", ",", "}")
    val ts = meta.tombs.sorted.map { case (k, s) => s"[$k,$s]" }.mkString("[", ",", "]")
    java.nio.file.Files.writeString(metaPath(root, version),
      s"""{"files": $fs, "tombs": $ts}"""): Unit
  }

  def readMeta(root: String, version: Int): Option[Meta] =
    readMetaAt(metaPath(root, version))

  private def readMetaAt(p: java.nio.file.Path): Option[Meta] = {
    if (!java.nio.file.Files.exists(p)) None
    else Some {
      val s = java.nio.file.Files.readString(p)
      val filesPart = s.substring(s.indexOf("\"files\""), s.indexOf("\"tombs\""))
      val files = """"([^"]+)":\s*(\d+)""".r.findAllMatchIn(filesPart)
        .filter(_.group(1) != "files")
        .map(m => m.group(1) -> m.group(2).toInt).toMap
      val tombsPart = s.substring(s.indexOf("\"tombs\""))
      val tombs = """\[(-?\d+),(\d+)\]""".r.findAllMatchIn(tombsPart)
        .map(m => (m.group(1).toLong, m.group(2).toInt)).toSeq
      Meta(files, tombs)
    }
  }

  /** BRANCH-LOCAL MOR sidecars (`_mor_b_<branch>_v<k>.json`, parallel
    * to the `_manifest_b_` line): branch commit `k` carries commit
    * SEQUENCE `fork + k`, so tombstone-vs-file sequence comparison —
    * and therefore merge-on-read semantics — is IDENTICAL on a branch,
    * and fast-forward promotion to main version `fork + k` is a pure
    * file move with no renumbering. The `_mor_b_` prefix keeps these
    * out of both the main `_mor_v` namespace and vacuum's
    * version-keyed sidecar sweep.
    */
  private[sources] def branchMetaPath(root: String, branch: String, k: Int) =
    java.nio.file.Paths.get(s"$root/_mor_b_${branch}_v$k.json")

  def writeBranchMeta(root: String, branch: String, k: Int, meta: Meta): Unit = {
    val fs = meta.files.toSeq.sorted.map { case (f, s) => s"${q(f)}: $s" }
      .mkString("{", ",", "}")
    val ts = meta.tombs.sorted.map { case (key, s) => s"[$key,$s]" }.mkString("[", ",", "]")
    java.nio.file.Files.writeString(branchMetaPath(root, branch, k),
      s"""{"files": $fs, "tombs": $ts}"""): Unit
  }

  def readBranchMeta(root: String, branch: String, k: Int): Option[Meta] =
    readMetaAt(branchMetaPath(root, branch, k))

  /** Materialize `df` as MOR table version 1 under a fresh or given
    * root; the caller registers it with `morKey` in the catalog.
    */
  def createVersion1(spark: SparkSession, root: String, df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(s"$root/files/base_v1")
    val files = ZoneMap.leafFiles(root, "files/base_v1")
    VersionedTable.writeManifest(root, 1, files)
    writeMeta(root, 1, Meta(files.map(_ -> 1).toMap, Nil))
  }

  /** COMPACTION: fold the tombstones back into the data — read the
    * LOGICAL rows (through the merge-on-read scan), rewrite them as one
    * clean group, commit a version with an empty tombstone set. This is
    * the dial reset: reads go back to tombstone-free cost, and the
    * write amortizes every delta since the last compaction.
    */
  def compact(spark: SparkSession, tableName: String): Int = {
    val root = GraftVtCatalog.rootOf(tableName).getOrElse(
      throw new IllegalArgumentException(s"unknown table $tableName"))
    val newV = VersionedTable.latestVersion(root) + 1
    val groupRel = s"files/compact_v$newV"
    spark.sql(s"SELECT * FROM graft_vt.$tableName")
      .write.mode("overwrite").parquet(s"$root/$groupRel")
    val files = ZoneMap.leafFiles(root, groupRel)
    // one-winner: a concurrent DML that commits newV first wins and this
    // compaction aborts (its tombstones must not be silently dropped)
    VersionedTable.commitManifest(root, newV, files)
    writeMeta(root, newV, Meta(files.map(_ -> newV).toMap, Nil))
    VersionedTable.vacuum(root, Seq(newV - 1, newV)): Unit
    newV
  }
}

/** Delta (merge-on-read) row-level operation: row id = the table key.
  * With `branch` set, the scan binds the BRANCH head's files+tombstones
  * and the commit lands on the branch line (sequence `fork + k`) — main
  * readers never see it until fast-forward.
  */
class MorRowLevelOperation(table: GraftVtTable, cmd: RowLevelOperation.Command,
    keyCol: String, branch: Option[String] = None)
  extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] = Array(Expressions.column(keyCol))
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  /** The operation scan must see the LOGICAL rows (a MERGE join against
    * already-deleted rows would resurrect them) — same MOR scan as
    * ordinary reads.
    */
  override def newScanBuilder(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new MorScanBuilder(table.root, table.schema(), keyCol, table.currentVersion, branch)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite = branch match {
          case None => new MorDeltaBatchWrite(
            table.root, table.currentVersion + 1, info.schema())
          case Some(b) =>
            val r = VtBranch.ref(table.root, b)
            new MorDeltaBatchWrite(table.root, r.fork + r.head + 1, info.schema(),
              Some((b, r.head + 1)))
        }
        override def description(): String =
          s"graft_vt MOR ${cmd.name()}" + branch.fold("")(b => s" @$b")
      }
    }
}

/** Commit = data file(s) of inserted/replacement rows (if any) + key
  * tombstones, both stamped with the new version as their sequence.
  * Same one-winner manifest commit as the COW writes. With
  * `branchCommit = Some((branch, k))`, `newVersion` is the branch
  * commit's SEQUENCE (`fork + k`) and the commit lands on the
  * branch's manifest+meta line instead of main's.
  */
class MorDeltaBatchWrite(root: String, newVersion: Int, schema: StructType,
    branchCommit: Option[(String, Int)] = None)
  extends DeltaBatchWrite {

  private val groupRel = branchCommit match {
    case Some((b, k)) => s"files/delta_b_${b}_v$k"
    case None => s"files/delta_v$newVersion"
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new MorDeltaWriterFactory(VtTaskFiles.prepare(root, groupRel, schema))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: MorCommitMessage => m }
    // the data file is opened only for a row, so every named file is non-empty
    val newFiles = ms.collect { case m if m.relPath.nonEmpty => m.relPath }
    val newTombs = ms.flatMap(_.deletedKeys).map(_ -> newVersion)
    branchCommit match {
      case Some((b, k)) =>
        // one-winner on the branch line: the ref must still be at k-1
        // (commitEntries' one-winner write backs this up at the file level)
        val r = VtBranch.ref(root, b)
        if (r.head != k - 1) {
          abort(messages)
          throw new java.util.ConcurrentModificationException(
            s"commit conflict: branch $b of $root moved to head ${r.head} " +
              "during this write; re-run the statement")
        }
        val prev = VtMor.readBranchMeta(root, b, k - 1)
          .getOrElse(VtMor.Meta(Map.empty, Nil))
        val prevEntries = VtBranch.entries(root, b)
        // the ref-head precheck above can still lose the one-winner
        // race inside commitEntries — the loser must clean up its data
        // files like the main-line path does, or they sit orphaned in a
        // group dir the winner's manifest pins (vacuum-proof garbage)
        try VtBranch.commitEntries(root, b, prevEntries ++ newFiles): Unit
        catch { case e: java.util.ConcurrentModificationException =>
          abort(messages); throw e
        }
        VtMor.writeBranchMeta(root, b, k, VtMor.Meta(
          prev.files ++ newFiles.map(_ -> newVersion),
          prev.tombs ++ newTombs))
        // no retention sweep on branch commits: the branch lifecycle
        // (fast-forward or drop + the next vacuum) owns its garbage
      case None =>
        val prev = VtMor.readMeta(root, newVersion - 1).getOrElse(VtMor.Meta(Map.empty, Nil))
        val prevEntries = VersionedTable.manifest(root, newVersion - 1)
        try VersionedTable.commitManifest(root, newVersion, (prevEntries ++ newFiles).sorted)
        catch { case e: java.util.ConcurrentModificationException =>
          abort(messages); throw e
        }
        VtMor.writeMeta(root, newVersion, VtMor.Meta(
          prev.files ++ newFiles.map(_ -> newVersion),
          prev.tombs ++ newTombs))
        // retention: keep-last-2, same policy as the COW path
        VersionedTable.vacuum(root, Seq(math.max(1, newVersion - 1), newVersion)): Unit
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: MorCommitMessage if m.relPath.nonEmpty =>
        new java.io.File(s"$root/${m.relPath}").delete(): Unit
      case _ => ()
    }
}

/** relPath empty ⇔ this task wrote no data file (pure-delete tasks). */
case class MorCommitMessage(relPath: String, deletedKeys: Array[Long])
  extends WriterCommitMessage

class MorDeltaWriterFactory(files: VtTaskFiles) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private var writer: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var relPath: String = ""
      private val deleted = scala.collection.mutable.ArrayBuffer.empty[Long]

      override def insert(row: InternalRow): Unit = {
        // the data file is created lazily: a pure-DELETE task never
        // touches parquet at all — its entire output is the key list
        if (writer == null) {
          val (w, rel) = files.open(partitionId, taskId, "")
          writer = w; relPath = rel
        }
        writer.write(row)
      }
      override def delete(metadata: InternalRow, id: InternalRow): Unit =
        deleted += id.getLong(0)
      override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
        throw new IllegalStateException(
          "updates are represented as delete+insert (representUpdateAsDeleteAndInsert)")
      override def commit(): WriterCommitMessage = {
        if (writer != null) writer.close()
        MorCommitMessage(relPath, deleted.toArray)
      }
      override def abort(): Unit = if (writer != null) {
        writer.close()
        files.delete(relPath)
      }
      override def close(): Unit = ()
    }
}

/** Merge-on-read scan: one partition per (file, sequence); each task
  * streams the file through Spark's parquet reader and suppresses rows
  * whose key carries a NEWER tombstone than the file. Column pruning is
  * honored (the key column is force-included for the filter, then
  * projected away if the query didn't ask for it); pushed filters
  * replay into the parquet reader for row-group skipping, and stay
  * residual above — pruning and pushdown never change semantics.
  */
class MorScanBuilder(root: String, tableSchema: StructType, keyCol: String,
    version: Int, branch: Option[String] = None)
  extends ScanBuilder
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns {

  import org.apache.spark.sql.catalyst.expressions.Expression

  private var pushed: Seq[Expression] = Nil
  private var required: StructType = tableSchema

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushed = filters; filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty
  override def pruneColumns(s: StructType): Unit = required = s

  override def build(): Scan = {
    val meta = branch match {
      case None => VtMor.readMeta(root, version).getOrElse(
        throw new IllegalStateException(s"no MOR meta for $root v$version"))
      case Some(b) =>
        val r = VtBranch.ref(root, b)
        VtMor.readBranchMeta(root, b, r.head).getOrElse(
          throw new IllegalStateException(s"no MOR meta for $root branch $b"))
    }
    val readSchema =
      if (required.fieldNames.contains(keyCol)) required
      else StructType(required.fields :+ tableSchema(keyCol))
    val keyOrd = readSchema.fieldIndex(keyCol)
    // ordinals of the REQUESTED columns inside the read schema (identity
    // when the query already selects the key)
    val outOrds = required.fieldNames.map(readSchema.fieldIndex)
    val v1 = pushed.flatMap(ZoneMap.toV1Filter)
    val files = branch match {
      case None => VersionedTable.manifest(root, version)
      case Some(b) => VtBranch.entries(root, b)
    }
    val spark = SparkSession.active
    val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, tableSchema, new StructType(), readSchema, v1,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      new Configuration(spark.sessionState.newHadoopConf()))
    val requiredOut = required
    new Scan {
      override def readSchema(): StructType = requiredOut
      override def description(): String = s"graft_vt MOR $root v$version"
      override def toBatch: Batch = new Batch {
        override def planInputPartitions(): Array[InputPartition] =
          files.map { rel =>
            val f = new java.io.File(s"$root/$rel")
            MorFilePartition(f.getAbsolutePath, f.length(),
              // a file absent from the meta (shouldn't happen through the
              // supported write paths) reads as NEWEST — conservative:
              // no tombstone can suppress rows we can't date
              meta.files.getOrElse(rel, Int.MaxValue)): InputPartition
          }.toArray
        override def createReaderFactory(): PartitionReaderFactory =
          MorReaderFactory(readFunc, meta.tombMap, keyOrd,
            if (outOrds.toSeq == readSchema.fieldNames.indices.toSeq) None
            else Some(outOrds))
      }
    }
  }
}

case class MorFilePartition(path: String, length: Long, seq: Int) extends InputPartition

/** View of a row re-ordered/narrowed to `ords` (drops the force-read
  * key column when the query didn't select it).
  */
private[sources] final class OrdinalMappedRow(ords: Array[Int]) extends InternalRow {
  private var row: InternalRow = _
  def set(r: InternalRow): InternalRow = { row = r; this }
  override def numFields: Int = ords.length
  override def setNullAt(i: Int): Unit = row.setNullAt(ords(i))
  override def update(i: Int, v: Any): Unit = row.update(ords(i), v)
  override def copy(): InternalRow = {
    val c = new OrdinalMappedRow(ords); c.row = row.copy(); c
  }
  override def isNullAt(i: Int): Boolean = row.isNullAt(ords(i))
  override def getBoolean(i: Int): Boolean = row.getBoolean(ords(i))
  override def getByte(i: Int): Byte = row.getByte(ords(i))
  override def getShort(i: Int): Short = row.getShort(ords(i))
  override def getInt(i: Int): Int = row.getInt(ords(i))
  override def getLong(i: Int): Long = row.getLong(ords(i))
  override def getFloat(i: Int): Float = row.getFloat(ords(i))
  override def getDouble(i: Int): Double = row.getDouble(ords(i))
  override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
    row.getDecimal(ords(i), p, s)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    row.getUTF8String(ords(i))
  override def getBinary(i: Int): Array[Byte] = row.getBinary(ords(i))
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    row.getGeography(ords(i))
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    row.getGeometry(ords(i))
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    row.getInterval(ords(i))
  override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal =
    row.getVariant(ords(i))
  override def getStruct(i: Int, n: Int): InternalRow = row.getStruct(ords(i), n)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    row.getArray(ords(i))
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    row.getMap(ords(i))
  override def get(i: Int, dt: org.apache.spark.sql.types.DataType): AnyRef =
    row.get(ords(i), dt)
}

case class MorReaderFactory(readFunc: PartitionedFile => Iterator[InternalRow],
    tombMap: Map[Long, Int], keyOrd: Int, project: Option[Array[Int]])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[MorFilePartition]
    val mapped = project.map(new OrdinalMappedRow(_))
    FileRows.reader(FileRows(readFunc, p.path, p.length).filter { r =>
      // MERGE-on-read: drop rows a newer tombstone supersedes
      r.isNullAt(keyOrd) || tombMap.getOrElse(r.getLong(keyOrd), Int.MinValue) <= p.seq
    }.map(r => mapped.map(_.set(r)).getOrElse(r)))
  }
}
