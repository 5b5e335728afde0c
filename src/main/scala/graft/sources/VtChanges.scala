package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** ROW-LEVEL CHANGE DATA CAPTURE through SQL — the `graft_vt.t.changes`
  * face (VERDICT r10 #2): the incremental-consumer surface every
  * Delta/Iceberg user reads first, resolved through the ordinary
  * catalog path:
  *
  *   - `SELECT * FROM graft_vt.t.changes`                — the changes
  *     committed BY the latest version (vs its parent);
  *   - `SELECT * FROM graft_vt.t.changes VERSION AS OF n` — the changes
  *     committed by version `n` (vs `n-1`); tags resolve too.
  *
  * Output = the table's columns plus `_change_type`
  * (`'insert'`/`'delete'`) and `_commit_version`. Semantics are the
  * Iceberg-changelog file-diff contract: a copy-on-write rewrite
  * surfaces the old image as `delete` rows and the new image as
  * `insert` rows — so `v(n) = v(n-1) ∖ deletes ⊎ inserts` holds as a
  * MULTISET identity (pinned by `CdcSpec`), and a consumer that wants
  * net `update` classification joins the two sides on the table key
  * and drops unchanged pairs (see
  * [[graft.operators.SqlDml.sqlCdc]] — cost ∝ CHANGED files, never
  * table size). On a MERGE-ON-READ table the delete half comes from
  * the version's NEW TOMBSTONES instead: carried-over files are
  * scanned once filtered to rows visible at `n-1` but suppressed at
  * `n`, and new delta files provide the inserts.
  *
  * THE 100 TB CONTRACT: planning is driver metadata (two manifest
  * reads + a set diff); the scan reads ONLY changed files (COW) or
  * changed files + the carried files a new tombstone can touch (MOR) —
  * never the whole table. A production refinement would zone-map prune
  * the MOR carried-file list by tombstoned key range before shipping;
  * compaction commits (pure layout churn) surface as offsetting
  * delete+insert pairs a net-change consumer drops, exactly as
  * Iceberg's changelog does for replace snapshots — removed-file
  * deletes are FILTERED to rows visible at `n-1` (rows tombstoned
  * before the parent snapshot are not part of its logical content and
  * emit nothing), so the pairing is exact.
  */
class GraftVtChangesTable private[sources] (baseName: String, meta: VtTableMeta,
    pinnedVersion: Option[Int])
  extends Table with SupportsRead {

  override def name(): String = s"graft_vt.$baseName.changes"
  override def schema(): StructType = GraftVtChangesTable.changesSchema(meta.schema)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChangesScanBuilder(baseName, meta, pinnedVersion)
}

object GraftVtChangesTable {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  def changesSchema(dataSchema: StructType): StructType =
    StructType(dataSchema.fields ++ Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitVersionCol, IntegerType, nullable = false)))
}

/** Plans the change scan of one commit: COW file-set diff partitions
  * plus, for MOR tables, visibility-transition partitions over carried
  * files. Column pruning is honored (virtual columns cost nothing; the
  * MOR key column is force-read for the visibility filter and
  * projected away if unrequested); filters stay residual above — the
  * scan never changes semantics.
  */
private[sources] class ChangesScanBuilder(baseName: String, meta: VtTableMeta,
    pinnedVersion: Option[Int])
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private val (root, dataSchema, morKey) = (meta.root, meta.schema, meta.morKey)
  private val fullSchema = GraftVtChangesTable.changesSchema(dataSchema)
  private var required: StructType = fullSchema

  override def pruneColumns(s: StructType): Unit = required = s

  override def build(): Scan = {
    val v = pinnedVersion.getOrElse(VersionedTable.latestVersion(root))
    require(v >= 1, s"no such version $v of graft_vt.$baseName")

    // read schema: requested DATA columns, key force-included for MOR
    val requestedData = dataSchema.fields.filter(f => required.fieldNames.contains(f.name))
    val readSchema = morKey match {
      case Some(k) if !requestedData.exists(_.name == k) =>
        StructType(requestedData :+ dataSchema(k))
      case _ => StructType(requestedData)
    }
    val keyOrd = morKey.map(readSchema.fieldIndex).getOrElse(-1)
    // output getters over (readSchema row, virtuals): >=0 data ordinal,
    // -1 change type, -2 commit version
    val getters = required.fieldNames.map {
      case GraftVtChangesTable.ChangeTypeCol => -1
      case GraftVtChangesTable.CommitVersionCol => -2
      case n => readSchema.fieldIndex(n)
    }
    // RENAME COLUMN veneer: files store PHYSICAL names, this feed (like
    // ColMapScanBuilder for ordinary scans) speaks logical — hand the
    // parquet reader physified structs; getters/keyOrd are positional,
    // so logical-schema ordinals carry over unchanged
    val spark = SparkSession.active
    val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, meta.physify(dataSchema), new StructType(), meta.physify(readSchema), Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      new org.apache.hadoop.conf.Configuration(spark.sessionState.newHadoopConf()))

    val requiredOut = required
    new Scan {
      override def readSchema(): StructType = requiredOut
      override def description(): String = s"GraftVtChanges($baseName v$v)"
      override def toBatch: Batch = {
        val plan = ChangesPlanner.plan(baseName, root, morKey, v)
        new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            plan.partitions
          override def createReaderFactory(): PartitionReaderFactory =
            ChangesReaderFactory(readFunc, getters, v, keyOrd,
              plan.tombsPrev, plan.tombsCur, plan.newKeys)
        }
      }
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new ChangesMicroBatchStream(baseName, root, morKey, readFunc, getters, keyOrd)
    }
  }
}

/** Per-commit change planning shared by the batch face and the
  * streaming face: which files to read with which per-row visibility
  * treatment, plus the MOR tombstone state the readers need. Driver
  * cost is two manifest reads + a set diff per commit.
  */
private[sources] object ChangesPlanner {

  case class CommitPlan(partitions: Array[InputPartition],
      tombsPrev: Map[Long, Int], tombsCur: Map[Long, Int], newKeys: Set[Long])

  def plan(baseName: String, root: String, morKey: Option[String], v: Int): CommitPlan = {
    val prevExists = VersionedTable.exists(root, v - 1)
    require(v == 1 || prevExists,
      s"cannot read changes of graft_vt.$baseName version $v: parent " +
        s"version ${v - 1} was expired/vacuumed — change capture needs " +
        "both snapshots' manifests")
    def leaves(ver: Int): Seq[String] =
      VersionedTable.manifest(root, ver).flatMap(ZoneMap.leafFiles(root, _))
    val cur = leaves(v)
    val prev = if (prevExists) leaves(v - 1) else Seq.empty
    val curSet = cur.toSet
    val prevSet = prev.toSet
    val added = cur.filterNot(prevSet)
    val removed = prev.filterNot(curSet)
    val carried = cur.filter(prevSet)

    // MOR visibility state at both snapshots: file → commit sequence
    // (stable across versions) and key → newest tombstone sequence
    val morPrev = morKey.flatMap(_ => VtMor.readMeta(root, v - 1))
    val morCur = morKey.flatMap(_ => VtMor.readMeta(root, v))
    val tombsPrev = morPrev.map(_.tombMap).getOrElse(Map.empty[Long, Int])
    val tombsCur = morCur.map(_.tombMap).getOrElse(Map.empty[Long, Int])
    // keys whose newest tombstone ADVANCED in this commit — the only
    // keys a carried file can lose; ships to tasks bounded by the
    // commit's tombstone count (compaction-cadence bounded)
    val newlyTombed = tombsCur.filter { case (k, s) => tombsPrev.getOrElse(k, Int.MinValue) < s }
    val fileSeq = morCur.map(_.files).getOrElse(Map.empty[String, Int])
    // removed files left the CURRENT meta — their commit sequence (for
    // the v-1 visibility check below) lives in the PARENT's file map
    val prevFileSeq = morPrev.map(_.files).getOrElse(Map.empty[String, Int])

    def parts(files: Seq[String], kind: Int, seqs: Map[String, Int]): Seq[InputPartition] =
      files.map { rel =>
        val f = new java.io.File(s"$root/$rel")
        ChangesFilePartition(f.getAbsolutePath, f.length(), kind,
          seqs.getOrElse(rel, Int.MaxValue), v)
      }
    val planned: Array[InputPartition] = (morKey match {
      case None =>
        parts(added, ChangesFilePartition.Insert, fileSeq) ++
          parts(removed, ChangesFilePartition.Delete, fileSeq)
      case Some(_) =>
        // MOR: inserts = new delta files' rows visible at v; deletes =
        // carried rows visible at v-1 whose key's tombstone advanced.
        // Files only leave a MOR manifest at compaction — a removed
        // file's rows surface as deletes FILTERED to v-1 visibility
        // (rows already tombstoned before v-1 were not part of the
        // parent's logical content and must not emit spurious deletes;
        // the multiset identity v(n)=v(n-1)∖del⊎ins holds through
        // compaction commits too)
        parts(added, ChangesFilePartition.MorInsert, fileSeq) ++
          parts(removed, ChangesFilePartition.MorRemovedDelete, prevFileSeq) ++
          (if (newlyTombed.isEmpty) Nil
           else parts(carried, ChangesFilePartition.MorDelete, fileSeq))
    }).toArray
    CommitPlan(planned, tombsPrev, tombsCur, newlyTombed.keySet)
  }
}

/** CDC AS A STREAM (VERDICT r11 #2): `spark.readStream.table(
  * "graft_vt.t.changes")` — ONE micro-batch per commit version, each
  * batch exactly that commit's insert/delete images with
  * `_change_type`/`_commit_version`. Offsets are version numbers (the
  * same trivial checkpoint story as [[VtMicroBatchStream]]): restart
  * resumes after the last committed version, and a replayed batch
  * re-plans the identical file diff, so exactly-once composes with any
  * idempotent sink. Per-batch planning is driver metadata (two
  * manifest reads + a set diff); each batch's scan reads only that
  * commit's churn — a consumer tailing a 100 TB table pays for change
  * volume, never table size. A vacuumed parent inside the requested
  * range fails loudly (same contract as the batch face): change
  * capture cannot silently skip history.
  */
private[sources] class ChangesMicroBatchStream(baseName: String, root: String,
    morKey: Option[String], readFunc: PartitionedFile => Iterator[InternalRow],
    getters: Array[Int], keyOrd: Int)
  extends VersionPerBatchStream(root) {

  // per-version reader state for the batch being planned; partitions
  // carry their version, so a range replay (checkpoint recovery handing
  // back a multi-commit span) dispatches correctly per file
  @volatile private var factories: Map[Int, ChangesReaderFactory] = Map.empty

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VtVersionOffset].v
    val e = end.asInstanceOf[VtVersionOffset].v
    val planned = ((s + 1) to e).map { v =>
      val p = ChangesPlanner.plan(baseName, root, morKey, v)
      v -> (p, ChangesReaderFactory(readFunc, getters, v, keyOrd,
        p.tombsPrev, p.tombsCur, p.newKeys))
    }
    factories = planned.map { case (v, (_, f)) => v -> f }.toMap
    planned.flatMap(_._2._1.partitions).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val fs = factories
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        fs(partition.asInstanceOf[ChangesFilePartition].version).createReader(partition)
    }
  }
}

private[sources] case class ChangesFilePartition(path: String, length: Long,
    kind: Int, seq: Int, version: Int) extends InputPartition

private[sources] object ChangesFilePartition {
  val Insert = 0 // every row of an added COW file
  val Delete = 1 // every row of a removed COW file
  val MorInsert = 2 // added delta file, rows visible at v
  val MorDelete = 3 // carried file, rows visible at v-1 but not at v
  val MorRemovedDelete = 4 // compaction-removed file, rows visible at v-1
}

/** Output row view: requested data columns by ordinal plus the two
  * virtual change columns — zero copies per row.
  */
private[sources] final class ChangeRow(getters: Array[Int],
    changeType: UTF8String, version: Int) extends InternalRow {
  private var row: InternalRow = _
  def set(r: InternalRow): InternalRow = { row = r; this }
  override def numFields: Int = getters.length
  override def setNullAt(i: Int): Unit = row.setNullAt(getters(i))
  override def update(i: Int, v: Any): Unit = row.update(getters(i), v)
  override def copy(): InternalRow = {
    val c = new ChangeRow(getters, changeType, version); c.row = row.copy(); c
  }
  override def isNullAt(i: Int): Boolean = getters(i) >= 0 && row.isNullAt(getters(i))
  override def getBoolean(i: Int): Boolean = row.getBoolean(getters(i))
  override def getByte(i: Int): Byte = row.getByte(getters(i))
  override def getShort(i: Int): Short = row.getShort(getters(i))
  override def getInt(i: Int): Int =
    if (getters(i) == -2) version else row.getInt(getters(i))
  override def getLong(i: Int): Long = row.getLong(getters(i))
  override def getFloat(i: Int): Float = row.getFloat(getters(i))
  override def getDouble(i: Int): Double = row.getDouble(getters(i))
  override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
    row.getDecimal(getters(i), p, s)
  override def getUTF8String(i: Int): UTF8String =
    if (getters(i) == -1) changeType else row.getUTF8String(getters(i))
  override def getBinary(i: Int): Array[Byte] = row.getBinary(getters(i))
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    row.getGeography(getters(i))
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    row.getGeometry(getters(i))
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    row.getInterval(getters(i))
  override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal =
    row.getVariant(getters(i))
  override def getStruct(i: Int, n: Int): InternalRow = row.getStruct(getters(i), n)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    row.getArray(getters(i))
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    row.getMap(getters(i))
  override def get(i: Int, dt: DataType): AnyRef = getters(i) match {
    case -1 => changeType
    case -2 => Int.box(version)
    case o => row.get(o, dt)
  }
}

private[sources] case class ChangesReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    getters: Array[Int], version: Int, keyOrd: Int,
    tombsPrev: Map[Long, Int], tombsCur: Map[Long, Int],
    newKeys: Set[Long]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChangesFilePartition]
    val tag = UTF8String.fromString(
      if (p.kind == ChangesFilePartition.Delete ||
        p.kind == ChangesFilePartition.MorDelete ||
        p.kind == ChangesFilePartition.MorRemovedDelete) "delete" else "insert")
    val out = new ChangeRow(getters, tag, version)
    def visible(tombs: Map[Long, Int], r: InternalRow): Boolean =
      r.isNullAt(keyOrd) || tombs.getOrElse(r.getLong(keyOrd), Int.MinValue) <= p.seq
    val raw = FileRows(readFunc, p.path, p.length)
    val rows: Iterator[InternalRow] = (p.kind match {
      case ChangesFilePartition.MorInsert => raw.filter(visible(tombsCur, _))
      case ChangesFilePartition.MorDelete => raw.filter { r =>
        !r.isNullAt(keyOrd) && newKeys.contains(r.getLong(keyOrd)) &&
          visible(tombsPrev, r) && !visible(tombsCur, r)
      }
      // compaction-removed file: only rows that were part of v-1's
      // LOGICAL content (visible under the parent's tombstones at the
      // file's own commit sequence) are deletes — already-tombstoned
      // rows would otherwise emit spurious unmatched deletes
      case ChangesFilePartition.MorRemovedDelete => raw.filter(visible(tombsPrev, _))
      case _ => raw
    }).map(out.set)
    FileRows.reader(rows)
  }
}
