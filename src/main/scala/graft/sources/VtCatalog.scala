package graft.sources

import java.util.{Map => JMap}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType, JobID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 catalog over [[VersionedTable]] roots — the tier that
  * makes the manifest-based table format reachable from SQL TEXT: after
  * `GraftVtCatalog.ensure(spark)` and a `register(name, root, schema)`,
  * a user runs the verbs they'd run against any real table format:
  *
  *   - `SELECT … FROM graft_vt.t VERSION AS OF 2`   (time travel)
  *   - `MERGE INTO graft_vt.t USING s ON … WHEN MATCHED …`
  *   - `UPDATE graft_vt.t SET … WHERE …`
  *   - `DELETE FROM graft_vt.t WHERE …`
  *
  * READ path: scans delegate to Spark's own parquet DSv2 table over
  * exactly the file list the requested manifest names — vectorized
  * reader, filter pushdown, and column pruning come for free, and time
  * travel is nothing but "bind the scan to manifest N's files".
  *
  * DML path: the table implements [[SupportsRowLevelOperations]] WITHOUT
  * `SupportsDelta`, so Spark's own rewrite rules (RewriteMergeIntoTable /
  * RewriteUpdateTable / RewriteDeleteFromTable) plan each verb as a
  * GROUP-BASED copy-on-write: one distributed plan producing the
  * replacement rows (for MERGE: exactly one join of target and source),
  * one distributed parquet write of a NEW file group, and one manifest
  * commit on the driver. Granularity is the whole table — the simplest
  * conformant copy-on-write; a production format narrows the rewritten
  * group set with file-level metadata columns, which is an orthogonal
  * refinement of the same contract. No row ever moves through the
  * driver; the commit is a one-line manifest write.
  *
  * At 100 TB the verbs stay shaped right: MERGE cost is one shuffle join
  * plus a parallel write of the replacement data, UPDATE/DELETE are one
  * scan + one write, and time-travel reads price identically to ordinary
  * reads of the pinned file list.
  */
class GraftVtCatalog extends TableCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog
  with ProcedureCatalog with FunctionCatalog {
  private var catalogName: String = "graft_vt"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  /** Opt into `ADD COLUMN ... DEFAULT` (SPARK-38334 v2 surface) and
    * constraint DDL (`ALTER TABLE ... ADD CONSTRAINT ... CHECK`): the
    * analyzer then routes literal defaults and constraint changes to
    * [[alterTable]] instead of rejecting the statements.
    */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** Table maintenance through SQL text (`CALL graft_vt.vacuum(...)` /
    * `CALL graft_vt.optimize(...)`) — Spark 4's ProcedureCatalog binds
    * the CALL statement to these; the verbs themselves are the existing
    * Scala primitives ([[VersionedTable.vacuum]], a compacting rewrite).
    */
  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure =
    ident.name() match {
      case "vacuum"   => GraftVtProcedures.vacuumProc
      case "orphan_files" => GraftVtProcedures.orphanProc
      case "optimize" => GraftVtProcedures.optimizeProc
      case "expire_versions" => GraftVtProcedures.expireProc
      case "create_branch" => GraftVtProcedures.createBranchProc
      case "fast_forward" => GraftVtProcedures.fastForwardProc
      case "drop_branch" => GraftVtProcedures.dropBranchProc
      case "rollback" => GraftVtProcedures.rollbackProc
      case "rebucket" => GraftVtProcedures.rebucketProc
      case "evolve_partition" => GraftVtProcedures.evolvePartitionProc
      case "cherrypick" => GraftVtProcedures.cherrypickProc
      case "clone" => GraftVtProcedures.cloneProc
      case other => throw new UnsupportedOperationException(s"no such procedure: $other")
    }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array("vacuum", "optimize", "expire_versions",
      "create_branch", "fast_forward", "drop_branch", "rollback", "rebucket",
      "evolve_partition", "cherrypick", "clone")
      .map(Identifier.of(Array.empty[String], _))

  /** FunctionCatalog face: `bucket` is the one function the catalog
    * owns — it is how Spark's storage-partitioned-join machinery
    * verifies that two bucketed scans share a layout (the transform in
    * each scan's [[org.apache.spark.sql.connector.read.partitioning
    * .KeyGroupedPartitioning]] resolves through here, and both sides
    * must bind the same canonical function).
    */
  override def loadFunction(ident: Identifier): functions.UnboundFunction =
    ident.name() match {
      case "bucket" => VtBucket.BucketFunction
      case _ =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty[String], "bucket"))

  override def listTables(namespace: Array[String]): Array[Identifier] =
    GraftVtCatalog.tables.keys.map(Identifier.of(Array.empty[String], _)).toArray

  override def loadTable(ident: Identifier): Table = lookup(ident, None)

  /** `VERSION AS OF n` (numeric) or `VERSION AS OF 'tag'` — a TAG is a
    * named pointer to a version (`_ref_<tag>.txt` in the table root),
    * the audit/release marker pattern: pin "the corpus the model was
    * trained on" by name, keep resolving it as versions advance.
    */
  override def loadTable(ident: Identifier, version: String): Table =
    version.toIntOption match {
      case Some(v) => lookup(ident, Some(v))
      // a non-numeric ref resolves BRANCH first (live line of history),
      // then TAG (pinned version) — same precedence as Iceberg refs.
      // Only base-table identifiers have a branch face; a metadata
      // table's VERSION AS OF keeps resolving through tags.
      case None if GraftVtCatalog.tables.contains(ident.name()) &&
          VtBranch.exists(rootFor(ident), version) =>
        branchTable(ident.name(), version)
      case None =>
        lookup(ident, Some(GraftVtTable.resolveTag(rootFor(ident), version)))
    }

  /** `TIMESTAMP AS OF t` (micros since epoch): bind the LARGEST version
    * whose manifest was committed at or before `t` — manifest mtime IS
    * the commit instant, so resolution is a driver-side directory
    * listing, never a data read.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootFor(ident)
    val vs = VersionedTable.versionCommitMicros(root)
    val eligible = vs.collect { case (v, us) if us <= timestamp => v }
    require(eligible.nonEmpty,
      s"no version of ${ident.name()} existed at timestamp $timestamp" +
        vs.map(_._2).minOption.fold("")(m => s" (earliest commit: $m)"))
    lookup(ident, Some(eligible.max))
  }

  /** The BASE table's root, whether `ident` names the table itself
    * (`graft_vt.t`) or one of its metadata tables (`graft_vt.t.files`).
    */
  private def rootFor(ident: Identifier): String = {
    val base = ident.namespace() match {
      case Array(b) if GraftVtMetaTable.kinds(ident.name()) ||
        ident.name() == "changes" => b
      case _ => ident.name()
    }
    GraftVtCatalog.tables.get(base) match {
      case Some(m) => m.root
      case None => throw new NoSuchTableException(ident)
    }
  }

  private def lookup(ident: Identifier, version: Option[Int]): Table =
    ident.namespace() match {
      // Iceberg-style metadata tables: `graft_vt.<table>.<kind>` —
      // the base table name rides in the identifier's namespace
      case Array(base) if GraftVtMetaTable.kinds(ident.name()) &&
          GraftVtCatalog.tables.contains(base) =>
        new GraftVtMetaTable(base, GraftVtCatalog.tables(base), ident.name(), version)
      // row-level CDC face: `graft_vt.<table>.changes [VERSION AS OF v]`
      // — the changes committed BY version v (default: the latest), as
      // insert/delete rows from the commit's file diff / new tombstones
      case Array(base) if ident.name() == "changes" &&
          GraftVtCatalog.tables.contains(base) =>
        new GraftVtChangesTable(base, GraftVtCatalog.tables(base), version)
      // branch face: `graft_vt.<table>.branch_<name>` — reads the
      // branch head, INSERTs commit onto the branch line
      case Array(base) if ident.name().startsWith("branch_") &&
          GraftVtCatalog.tables.contains(base) =>
        branchTable(base, ident.name().stripPrefix("branch_"))
      case _ =>
        GraftVtCatalog.tables.get(ident.name()) match {
          case Some(m) => new GraftVtTable(ident.name(), m, version)
          case None => throw new NoSuchTableException(ident)
        }
    }

  private def branchTable(base: String, branch: String): Table = {
    val m = GraftVtCatalog.tables(base)
    require(VtBranch.exists(m.root, branch),
      s"no such branch '$branch' on graft_vt.$base")
    // a bucket-routed branch write would break the layout invariant on
    // fast-forward — refused at the door. MOR branches are supported:
    // reads/DML bind the branch's own manifest + tombstone sidecar line
    require(m.bucket.isEmpty,
      s"branches on bucketed table graft_vt.$base are not supported")
    new GraftVtBranchTable(base, branch, new GraftVtTable(base, m, None))
  }

  /** The one partition transform this format speaks: `PARTITIONED BY
    * (bucket(n, key))` declares the storage-partitioned-join layout as
    * (key, n); no transform is None, and anything else is rejected
    * loudly, its message naming `who` and ending in `hint`.
    */
  private def bucketOf(partitions: Array[Transform], who: String,
      hint: String): Option[(String, Int)] = partitions match {
    case Array() => None
    case Array(t) if t.name() == "bucket" =>
      val args = t.arguments()
      require(args.length == 2, s"bucket takes (n, key), got ${args.toSeq}")
      val n = args.head match {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value().asInstanceOf[Number].intValue()
        case other => throw new IllegalArgumentException(
          s"bucket count must be a literal, got $other")
      }
      val key = args(1) match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          r.fieldNames().mkString(".")
        case other => throw new IllegalArgumentException(
          s"bucket key must be a column, got $other")
      }
      Some((key, n))
    case other => throw new UnsupportedOperationException(
      s"$who only PARTITIONED BY (bucket(n, key)), got ${other.toSeq}$hint")
  }

  /** `CREATE TABLE graft_vt.t (…)` and CTAS (`CREATE TABLE … AS
    * SELECT`, which Spark plans as createTable + AppendData through the
    * ordinary [[GraftVtWrite]] commit). The table root is a
    * catalog-owned directory initialized with an EMPTY version-1
    * manifest — a zero-file snapshot is a perfectly valid version, so
    * reads work immediately and the CTAS append commits version 2
    * naming exactly the written files. `TBLPROPERTIES ('cluster' =
    * '<col>')` opts into the clustered layout (ordered writes +
    * zone-map sidecars). Partition transforms are rejected loudly —
    * clustering IS this format's layout story.
    */
  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val bucketSpec = bucketOf(partitions, "graft_vt supports",
      "; use TBLPROPERTIES ('cluster' = '<col>') for the clustered layout")
    val name = ident.name()
    require(!GraftVtCatalog.tables.contains(name),
      s"table graft_vt.$name already exists")
    val schema = GraftVtCatalog.v2ToStructType(columns)
    bucketSpec.foreach { case (k, _) =>
      require(schema.fieldNames.contains(k), s"bucket column $k is not in the table schema")
    }
    val clusterCol = Option(properties.get("cluster"))
    require(clusterCol.isEmpty || bucketSpec.isEmpty,
      "a table is clustered OR bucketed, not both")
    clusterCol.foreach(c => require(schema.fieldNames.contains(c),
      s"cluster column $c is not in the table schema"))
    // TBLPROPERTIES ('zorder' = 'x,y') declares the Morton layout's two
    // dimensions; data lands unpruned until `CALL graft_vt.optimize`
    // lays it out and builds both sidecars (the OPTIMIZE ZORDER shape)
    val zorder = Option(properties.get("zorder"))
      .map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty))
    zorder.foreach { cols =>
      require(cols.size == 2, s"zorder takes exactly two columns, got $cols")
      require(clusterCol.isEmpty && bucketSpec.isEmpty,
        "a table is z-ordered OR clustered OR bucketed")
      cols.foreach { c =>
        require(schema.fieldNames.contains(c), s"zorder column $c is not in the table schema")
        require(schema(c).dataType == org.apache.spark.sql.types.LongType,
          s"zorder column $c must be BIGINT, got ${schema(c).dataType}")
      }
    }
    // TBLPROPERTIES ('check' = '<boolean expr>') — the write-boundary
    // data contract; validated HERE, before any directory or catalog
    // mutation, so a typo fails the CREATE and leaves the name free
    val checkSql = Option(properties.get("check"))
    checkSql.foreach(GraftVtTable.bindCheck(SparkSession.active, schema, _): Unit)
    // catalog-OWNED root (always under the per-JVM tmp namespace):
    // wiped on (re-)create so a DROP + CREATE cycle starts empty —
    // never the case for register()ed roots, which the catalog does
    // not own and never deletes
    val root = VersionedTable.freshRoot(s"create#$name")
    Scratch.delete(new java.io.File(root))
    new java.io.File(root).mkdirs()
    VersionedTable.writeManifest(root, 1, Nil)
    val meta = ((bucketSpec, zorder) match {
      case (Some((k, n)), _) => GraftVtCatalog.bucketed(root, schema, k, n)
      case (None, Some(cols)) => GraftVtCatalog.zOrdered(root, schema, cols)
      case _ => VtTableMeta(root, schema, clusterCol)
    }).copy(check = checkSql.map(VtCheck(_)))
    GraftVtCatalog.put(SparkSession.active, name, meta)
    new GraftVtTable(name, meta, None)
  }

  /** ATOMIC `CREATE OR REPLACE TABLE ... AS` — the staged-root swap:
    * the CTAS write lands in a PRIVATE fresh root through a record
    * built up front from the new definition alone (so no old mode — MOR
    * key, cluster column, bucket spec, CHECK — can leak onto the new
    * data); readers of the old binding keep working until
    * [[StagedTable.commitStagedChanges]] puts that record under the
    * name in one catalog put. A failed or aborted write deletes
    * the staged root and the old table is untouched — the atomicity a
    * bare drop+create REPLACE cannot give (a crash between drop and
    * create loses the table).
    */
  private def stageSwap(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: JMap[String, String],
      requireExists: Boolean, requireAbsent: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val logicalName = ident.name()
    // PARTITIONED BY (bucket(n, key)), threaded into the staged write
    // like createTable's path
    val stagedBucket = bucketOf(partitions, "staged CREATE supports", "")
    require(properties.get("zorder") == null,
      "staged CREATE OR REPLACE does not take TBLPROPERTIES ('zorder')")
    if (requireAbsent) require(!GraftVtCatalog.tables.contains(logicalName),
      s"table graft_vt.$logicalName already exists")
    if (requireExists) require(GraftVtCatalog.tables.contains(logicalName),
      s"no such table to replace: graft_vt.$logicalName")
    val schema = GraftVtCatalog.v2ToStructType(columns)
    val stagedCluster = Option(properties.get("cluster"))
    stagedCluster.foreach(c => require(schema.fieldNames.contains(c),
      s"cluster column $c is not in the table schema"))
    require(stagedCluster.isEmpty || stagedBucket.isEmpty,
      "a table is clustered OR bucketed, not both")
    stagedBucket.foreach { case (k, _) =>
      require(schema.fieldNames.contains(k),
        s"bucket column $k is not in the table schema")
    }
    val checkSql = Option(properties.get("check"))
    checkSql.foreach(GraftVtTable.bindCheck(SparkSession.active, schema, _): Unit)
    val stagedRoot = VersionedTable.freshRoot(
      s"staged#$logicalName#${java.util.UUID.randomUUID().toString.take(8)}")
    val staged = (stagedBucket match {
      case Some((k, n)) => GraftVtCatalog.bucketed(stagedRoot, schema, k, n)
      case None => VtTableMeta(stagedRoot, schema, stagedCluster)
    }).copy(check = checkSql.map(VtCheck(_)))
    new java.io.File(stagedRoot).mkdirs()
    VersionedTable.writeManifest(stagedRoot, 1, Nil)
    // the staged instance writes under the new record and an
    // UNREGISTERED name; the commit binds the logical name to it
    new GraftVtTable(s"${logicalName}__staged", staged, None)
      with org.apache.spark.sql.connector.catalog.StagedTable {
      override def commitStagedChanges(): Unit =
        GraftVtCatalog.put(SparkSession.active, logicalName, staged)
      override def abortStagedChanges(): Unit = Scratch.delete(new java.io.File(stagedRoot))
    }
  }

  override def stageCreate(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: JMap[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageSwap(ident, columns, partitions, properties,
      requireExists = false, requireAbsent = true)

  override def stageReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: JMap[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageSwap(ident, columns, partitions, properties,
      requireExists = true, requireAbsent = false)

  override def stageCreateOrReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: JMap[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageSwap(ident, columns, partitions, properties,
      requireExists = false, requireAbsent = false)

  /** Schema evolution — ALL metadata-only, no file is ever rewritten:
    *
    *   - `ADD COLUMNS`: files written before the change lack the column
    *     and read as NULL (the parquet reader null-fills
    *     requested-but-absent columns); files written after carry it.
    *   - `RENAME COLUMN`: recorded as a LOGICAL→PHYSICAL name mapping —
    *     files keep their original (physical) column names forever,
    *     scans translate on the way down and relabel on the way up
    *     ([[ColMapScanBuilder]]), writes translate the incoming logical
    *     schema back to physical names. This is the same decoupling a
    *     production format gets from field IDs, keyed by name here.
    *   - `DROP COLUMN`: removed from the logical schema; the physical
    *     name is RETIRED, so a later ADD of the same name gets a fresh
    *     physical name and old files' stale values can never
    *     resurrect — the classic drop-then-re-add corruption every
    *     field-ID design exists to prevent.
    *
    * Guards: the cluster column and MOR tables are immutable here (zone
    * maps and tombstone keys are physical artifacts), and unsupported
    * change kinds fail loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val name = ident.name()
    val entry = GraftVtCatalog.tables.getOrElse(name, throw new NoSuchTableException(ident))
    require(entry.morKey.isEmpty,
      s"ALTER TABLE on merge-on-read table $name is not supported")
    var mapping = entry.colMapping
    var check = entry.check
    def physInUse(s: StructType, phys: String): Boolean =
      s.fields.exists(f => mapping.l2p.getOrElse(f.name, f.name) == phys)
    val newSchema = changes.foldLeft(entry.schema) {
      case (s, add: TableChange.AddColumn) =>
        require(add.fieldNames().length == 1,
          "nested column additions not supported")
        val logical = add.fieldNames().head
        if (mapping.retired.contains(logical) || physInUse(s, logical)) {
          val fresh = Iterator.from(2).map(i => s"${logical}__r$i")
            .find(c => !mapping.retired.contains(c) && !physInUse(s, c)).get
          mapping = mapping.copy(l2p = mapping.l2p + (logical -> fresh))
        }
        // `ADD COLUMN ... DEFAULT <expr>` — metadata-only on BOTH
        // sides of time, exactly Iceberg v3's initial/write default
        // split: CURRENT_DEFAULT keeps the ORIGINAL SQL and fills the
        // column on INSERTs that omit it (re-analyzed per statement,
        // standard SQL default semantics); EXISTS_DEFAULT is the value
        // FROZEN at ADD time as a literal — Spark's parquet readers
        // substitute it for physically-absent-in-file columns, so rows
        // written before the column existed read one stable value
        // forever, even for a time-varying default expression.
        // Explicit NULLs written after the ADD stay NULL (the column
        // is physically present in those files). No file is rewritten.
        val meta = Option(add.defaultValue()) match {
          case None => org.apache.spark.sql.types.Metadata.empty
          case Some(dv) =>
            require(dv.getValue != null,
              s"ADD COLUMN $logical DEFAULT ${dv.getSql}: the default " +
                "must fold to a constant at ALTER time — rows written " +
                "before the column existed need one stable backfill value")
            val frozen = org.apache.spark.sql.catalyst.expressions.Literal(
              dv.getValue.value, dv.getValue.dataType).sql
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString("CURRENT_DEFAULT", dv.getSql)
              .putString("EXISTS_DEFAULT", frozen)
              .build()
        }
        StructType(s.fields :+ org.apache.spark.sql.types.StructField(
          logical, add.dataType(), add.isNullable, meta))
      case (s, rn: TableChange.RenameColumn) =>
        require(rn.fieldNames().length == 1, "nested column renames not supported")
        val from = rn.fieldNames().head
        val to = rn.newName()
        require(s.fieldNames.contains(from), s"no such column: $from")
        require(!s.fieldNames.contains(to), s"column already exists: $to")
        require(!entry.clusterCol.contains(from),
          s"renaming the cluster column $from is not supported")
        require(!entry.statsCols.contains(from),
          s"renaming the z-order stats column $from is not supported")
        require(entry.bucket.isEmpty,
          s"RENAME COLUMN on bucketed table $name is not supported")
        val phys = mapping.l2p.getOrElse(from, from)
        mapping = mapping.copy(l2p = mapping.l2p - from + (to -> phys))
        StructType(s.fields.map(f => if (f.name == from) f.copy(name = to) else f))
      case (s, del: TableChange.DeleteColumn) =>
        require(del.fieldNames().length == 1, "nested column drops not supported")
        val from = del.fieldNames().head
        require(s.fieldNames.contains(from), s"no such column: $from")
        require(!entry.clusterCol.contains(from),
          s"dropping the cluster column $from is not supported")
        require(!entry.statsCols.contains(from),
          s"dropping the z-order stats column $from is not supported")
        require(!entry.bucket.exists(_._1 == from),
          s"dropping the bucket key $from is not supported")
        require(s.fields.length > 1, "cannot drop the last column")
        val phys = mapping.l2p.getOrElse(from, from)
        mapping = mapping.copy(l2p = mapping.l2p - from,
          retired = mapping.retired + phys)
        StructType(s.fields.filterNot(_.name == from))
      // `ALTER COLUMN … TYPE` — WIDENING ONLY, metadata-only: the
      // logical schema changes, no file is rewritten. Old files keep
      // their narrow physical type and UP-CAST on read (Spark's parquet
      // readers promote int32→int64, float→double, and decimal
      // precision natively); new writes land wide. Narrowing or any
      // lossy change is refused loudly — it would corrupt old rows.
      case (s, ut: TableChange.UpdateColumnType) =>
        require(ut.fieldNames().length == 1,
          "nested column type changes not supported")
        val colName = ut.fieldNames().head
        require(s.fieldNames.contains(colName), s"no such column: $colName")
        val oldT = s(colName).dataType
        val newT = ut.newDataType()
        def widens(a: org.apache.spark.sql.types.DataType,
            b: org.apache.spark.sql.types.DataType): Boolean = (a, b) match {
          case (x, y) if x == y => true // idempotent re-runs are no-ops
          case (org.apache.spark.sql.types.ByteType,
            org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.IntegerType |
            org.apache.spark.sql.types.LongType) => true
          case (org.apache.spark.sql.types.ShortType,
            org.apache.spark.sql.types.IntegerType |
            org.apache.spark.sql.types.LongType) => true
          case (org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.LongType) => true
          case (org.apache.spark.sql.types.FloatType,
            org.apache.spark.sql.types.DoubleType) => true
          case (d1: org.apache.spark.sql.types.DecimalType,
            d2: org.apache.spark.sql.types.DecimalType) =>
            d2.scale == d1.scale && d2.precision >= d1.precision
          case _ => false
        }
        require(widens(oldT, newT),
          s"ALTER COLUMN $colName TYPE ${newT.simpleString}: only lossless " +
            s"WIDENING from ${oldT.simpleString} is supported (integral " +
            "up-casts, float→double, decimal precision growth at equal " +
            "scale) — anything else would corrupt rows in existing files")
        // the bucket hash is type-sensitive: widening the bucket key
        // would route identical keys to different buckets across
        // generations, silently breaking the zero-exchange join layout
        require(!entry.bucket.exists(_._1 == colName),
          s"widening the bucket key $colName would re-route rows across " +
            "buckets; rebucket the table instead")
        StructType(s.fields.map(f =>
          if (f.name == colName) f.copy(dataType = newT) else f))
      // `ALTER COLUMN ... SET DEFAULT <expr>` / `DROP DEFAULT` — changes
      // ONLY the write-side default for future INSERTs that omit the
      // column. The EXISTENCE default (what pre-ADD files read) stays
      // frozen forever: it describes data already written, and moving
      // it would silently rewrite history on the next scan.
      case (s, ud: TableChange.UpdateColumnDefaultValue) =>
        require(ud.fieldNames().length == 1,
          "nested column default changes not supported")
        val colName = ud.fieldNames().head
        require(s.fieldNames.contains(colName), s"no such column: $colName")
        StructType(s.fields.map { f =>
          if (f.name != colName) f
          else {
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            val newSql = Option(ud.newCurrentDefault()).map(_.getSql)
              .orElse(Option(ud.newDefaultValue()).filter(_.nonEmpty))
            newSql match {
              case Some(sql) => f.copy(metadata =
                mb.putString("CURRENT_DEFAULT", sql).build())
              case None => f.copy(metadata = // DROP DEFAULT
                mb.remove("CURRENT_DEFAULT").build())
            }
          }
        })
      // `ALTER TABLE ... ADD CONSTRAINT <n> CHECK (<pred>)` — the SQL
      // face of the write-boundary contract ([[VtTableMeta.check]]):
      // bind the predicate against the current schema (loud failure),
      // VALIDATE the existing snapshot when the constraint is ENFORCED
      // (an engine must not admit a contract the table already
      // violates), then register — every later writer task enforces it.
      case (s, ac: TableChange.AddConstraint) =>
        ac.constraint() match {
          case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
            require(check.isEmpty,
              s"table $name already has CHECK constraint " +
                s"'${check.flatMap(_.name).getOrElse("check")}' — drop it first")
            val sql = ck.predicateSql()
            GraftVtTable.bindCheck(SparkSession.active, s, sql): Unit
            if (ck.enforced()) {
              val violations = SparkSession.active.table(s"$catalogName.$name")
                .filter(s"NOT ($sql) OR ($sql) IS NULL").count()
              require(violations == 0,
                s"cannot ADD CHECK ($sql): $violations existing rows violate it")
            }
            check = Some(VtCheck(sql, Option(ck.name())))
            s
          case other => throw new UnsupportedOperationException(
            s"only CHECK constraints are supported, got: ${other.toDDL}")
        }
      case (s, dc: TableChange.DropConstraint) =>
        if (check.exists(_.name.contains(dc.name()))) check = None
        else if (!dc.ifExists())
          throw new IllegalArgumentException(s"no such constraint on $name: ${dc.name()}")
        s
      case (_, other) =>
        throw new UnsupportedOperationException(
          s"unsupported table change: $other (ADD / RENAME / DROP COLUMN " +
            "/ ALTER COLUMN TYPE / SET|DROP DEFAULT / ADD|DROP CONSTRAINT only)")
    }
    // a schema change must not orphan the CHECK constraint: a rename or
    // drop of a referenced column would make every later write fail at
    // boundCheck with no SQL path to unset the contract — reject the
    // ALTER instead, loudly
    check.foreach { c =>
      try GraftVtTable.bindCheck(SparkSession.active, newSchema, c.sql): Unit
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"this change would break the table's CHECK constraint (${c.sql}); " +
            "drop or adjust the constraint first", e)
      }
    }
    val altered = entry.copy(schema = newSchema, colMapping = mapping, check = check)
    GraftVtCatalog.tables.put(name, altered): Unit
    new GraftVtTable(name, altered, None)
  }

  /** DROP removes the table's whole record, so a later CREATE or
    * RENAME binding the same name starts with no modes.
    */
  override def dropTable(ident: Identifier): Boolean =
    GraftVtCatalog.tables.remove(ident.name()).isDefined

  /** `ALTER TABLE graft_vt.a RENAME TO graft_vt.b` — pure catalog
    * metadata: the root directory, every manifest, sidecar, and data
    * file stay byte-identical; only the record (root and every mode)
    * moves to the new name. Time travel, tags, and metadata tables
    * keep working under the new name because they all key off the
    * ROOT, which is unchanged.
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // `RENAME TO graft_vt.b` arrives with the catalog name still in the
    // new identifier's namespace; `RENAME TO b` arrives bare — both
    // mean the same top-level table. Anything else (a metadata-table
    // path) is rejected.
    def bare(i: Identifier): String = i.namespace() match {
      case Array() => i.name()
      case Array(c) if c == catalogName => i.name()
      case _ => throw new IllegalArgumentException(
        s"cannot rename to/from a nested identifier: $i")
    }
    val from = bare(oldIdent)
    val to = bare(newIdent)
    val meta = GraftVtCatalog.tables.getOrElse(from, throw new NoSuchTableException(oldIdent))
    if (GraftVtCatalog.tables.contains(to))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(newIdent)
    GraftVtCatalog.tables.put(to, meta): Unit
    GraftVtCatalog.tables.remove(from): Unit
  }
}

/** The two maintenance procedures, bound by [[GraftVtCatalog.loadProcedure]].
  *
  * Results come back as one-row [[LocalScan]]s — CALL output is driver
  * metadata (group counts, version ids), never data rows, so a local
  * scan is the right cost: zero jobs beyond the maintenance work itself.
  */
object GraftVtProcedures {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{IntegerType, StringType, StructField}
  import org.apache.spark.unsafe.types.UTF8String

  private def rootOf(table: String): String = GraftVtCatalog.meta(table).root

  private def resultScan(schema: StructType, values: Array[Any]): java.util.Iterator[Scan] =
    java.util.List.of[Scan](new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = Array(new GenericInternalRow(values))
    }).iterator()

  private def param(n: String, dt: org.apache.spark.sql.types.DataType) =
    procedures.ProcedureParameter.in(n, dt).build()

  /** `CALL graft_vt.vacuum(tbl, retain)` — keep the trailing `retain`
    * versions, delete every file group no retained manifest references.
    * Driver-only metadata work: cost ∝ number of groups, never rows.
    */
  val vacuumProc: procedures.UnboundProcedure = new procedures.UnboundProcedure {
    override def name(): String = "vacuum"
    override def description(): String = "retain trailing N versions, delete unreferenced groups"
    override def bind(inputType: StructType): procedures.BoundProcedure =
      new procedures.BoundProcedure {
        override def name(): String = "vacuum"
        override def description(): String = vacuumProc.description()
        override def parameters(): Array[procedures.ProcedureParameter] =
          Array(param("tbl", StringType), param("retain", IntegerType))
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val root = rootOf(input.getUTF8String(0).toString)
          val retain = input.getInt(1)
          require(retain >= 1, s"retain must be >= 1, got $retain")
          val latest = VersionedTable.latestVersion(root)
          val keep = (math.max(1, latest - retain + 1) to latest).toSeq
          val deleted = VersionedTable.vacuum(root, keep)
          resultScan(
            StructType(Seq(StructField("deleted_groups", IntegerType, nullable = false),
              StructField("retained_from", IntegerType, nullable = false),
              StructField("retained_to", IntegerType, nullable = false))),
            Array[Any](deleted.size, keep.min, keep.max))
        }
      }
  }

  /** `CALL graft_vt.orphan_files(tbl)` — the GC AUDIT (vacuum's
    * dry-run complement, Iceberg's remove_orphan_files minus the
    * delete): group dirs under `files/` no manifest / tag / branch /
    * staged write references — crashed-writer debris invisible to
    * version-keyed vacuum. Reports group and row counts; deletes
    * NOTHING (the audit-then-decide contract).
    */
  val orphanProc: procedures.UnboundProcedure = new procedures.UnboundProcedure {
    override def name(): String = "orphan_files"
    override def description(): String =
      "list file groups referenced by no manifest, tag, branch, or staged write (audit only)"
    override def bind(inputType: StructType): procedures.BoundProcedure =
      new procedures.BoundProcedure {
        override def name(): String = "orphan_files"
        override def description(): String = orphanProc.description()
        override def parameters(): Array[procedures.ProcedureParameter] =
          Array(param("tbl", StringType))
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val root = rootOf(input.getUTF8String(0).toString)
          val orphanGroups = VersionedTable.orphans(root)
          val live = Option(new java.io.File(s"$root/files").list())
            .getOrElse(Array.empty[String]).length - orphanGroups.size
          val orphanRows =
            if (orphanGroups.isEmpty) 0L
            else SparkSession.active.read
              .parquet(orphanGroups.map(g => s"$root/$g"): _*).count()
          resultScan(
            StructType(Seq(
              StructField("orphan_groups", IntegerType, nullable = false),
              StructField("live_groups", IntegerType, nullable = false),
              StructField("orphan_rows",
                org.apache.spark.sql.types.LongType, nullable = false))),
            Array[Any](orphanGroups.size, live, orphanRows))
        }
      }
  }

  /** `CALL graft_vt.expire_versions(tbl, olderThanMicros)` — the
    * TIME-based retention flavor (vacuum's count-based twin, Iceberg's
    * expire_snapshots): drop every version whose commit instant is
    * strictly before the cutoff — except the LATEST version, which is
    * always retained (a table never loses its head) — then collect the
    * newly-unreferenced groups. Tags keep pinning their versions
    * through [[VersionedTable.vacuum]]'s keep-set logic. Driver-only
    * metadata work.
    */
  val expireProc: procedures.UnboundProcedure = new procedures.UnboundProcedure {
    override def name(): String = "expire_versions"
    override def description(): String =
      "drop versions committed before a cutoff (latest always retained), collect garbage"
    override def bind(inputType: StructType): procedures.BoundProcedure =
      new procedures.BoundProcedure {
        override def name(): String = "expire_versions"
        override def description(): String = expireProc.description()
        override def parameters(): Array[procedures.ProcedureParameter] =
          Array(param("tbl", StringType),
            param("older_than", org.apache.spark.sql.types.TimestampType))
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val root = rootOf(input.getUTF8String(0).toString)
          val cutoff = input.getLong(1) // micros
          val vs = VersionedTable.versionCommitMicros(root)
          require(vs.nonEmpty, s"no versions under $root")
          val latest = vs.map(_._1).max
          val keep = vs.collect { case (v, us) if us >= cutoff || v == latest => v }
          val deleted = VersionedTable.vacuum(root, keep)
          resultScan(
            StructType(Seq(StructField("expired_versions", IntegerType, nullable = false),
              StructField("deleted_groups", IntegerType, nullable = false),
              StructField("retained_versions", IntegerType, nullable = false))),
            Array[Any](vs.size - keep.size, deleted.size, keep.size))
        }
      }
  }

  /** `CALL graft_vt.optimize(tbl [, target_bytes])` — compact the
    * CURRENT version's file set into size-targeted files (default
    * 128 MB) as a NEW version, then apply keep-last-2 retention. One
    * distributed read + one distributed write; at 100 TB a production
    * refinement compacts only small-file groups, which narrows the
    * same rewrite, not a different shape. On a Z-ORDERED table this is
    * OPTIMIZE ZORDER: the rewrite lays files out along the Morton
    * curve and rebuilds both sidecars.
    */
  val optimizeProc: procedures.UnboundProcedure = new procedures.UnboundProcedure {
    override def name(): String = "optimize"
    override def description(): String = "compact the current version into size-targeted files"
    override def bind(inputType: StructType): procedures.BoundProcedure =
      new procedures.BoundProcedure {
        override def name(): String = "optimize"
        override def description(): String = optimizeProc.description()
        override def parameters(): Array[procedures.ProcedureParameter] =
          Array(param("tbl", StringType),
            procedures.ProcedureParameter.in("target_bytes",
              org.apache.spark.sql.types.LongType)
              .defaultValue((128L * 1024 * 1024).toString).build())
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = SparkSession.active
          val tbl = input.getUTF8String(0).toString
          val targetBytes = math.max(1L, input.getLong(1))
          val meta = GraftVtCatalog.meta(tbl)
          val root = meta.root
          // merge-on-read tables compact through the tombstone-aware
          // path (reading raw files here would resurrect deleted rows)
          if (meta.morKey.isDefined) {
            val before = VersionedTable
              .manifest(root, VersionedTable.latestVersion(root))
              .flatMap(ZoneMap.leafFiles(root, _)).size
            val newV = VtMor.compact(spark, tbl)
            meta.bloomCols.foreach(BloomMap.analyze(spark, root, newV, _): Unit)
            val after = VersionedTable.manifest(root, newV)
              .flatMap(ZoneMap.leafFiles(root, _)).size
            return resultScan(
              StructType(Seq(StructField("files_before", IntegerType, nullable = false),
                StructField("files_after", IntegerType, nullable = false),
                StructField("new_version", IntegerType, nullable = false))),
              Array[Any](before, after, newV))
          }
          val latest = VersionedTable.latestVersion(root)
          val entries = VersionedTable.manifest(root, latest)
          val before = entries.flatMap(ZoneMap.leafFiles(root, _))
            .map(f => new java.io.File(s"$root/$f"))
          val totalBytes = before.map(_.length).sum
          val targetFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
          val newV = latest + 1
          val groupRel = s"files/opt_v$newV"
          // Z-ORDERED tables optimize along the Morton curve (the
          // OPTIMIZE ZORDER shape): re-grid both dimensions from fresh
          // global bounds, range-partition by the interleaved code, and
          // re-ANALYZE both sidecars — this is also how DML-degraded
          // pruning is restored, since COW versions ship without
          // multi-column stats
          meta.statsCols match {
            case Seq() => ()
            case Seq(xc, yc) =>
              import org.apache.spark.sql.functions.col
              val raw = spark.read.parquet(before.map(_.getAbsolutePath): _*)
                .drop("zval") // re-optimizing a laid-out group recomputes it
              graft.operators.ZOrder.writeZOrdered(
                graft.operators.ZOrder.zValued(raw, xc, yc),
                col("zval"), s"$root/$groupRel", targetFiles)
              VersionedTable.commitManifest(root, newV, Seq(groupRel))
              ZoneMap.analyze(spark, root, newV, xc): Unit
              ZoneMap.analyze(spark, root, newV, yc): Unit
              // optimize must not silently disable ANY sidecar tier:
              // bloom-indexed columns get fresh filters too
              meta.bloomCols.foreach(BloomMap.analyze(spark, root, newV, _): Unit)
              VersionedTable.vacuum(root, Seq(newV - 1, newV).filter(_ >= 1)): Unit
              return resultScan(
                StructType(Seq(StructField("files_before", IntegerType, nullable = false),
                  StructField("files_after", IntegerType, nullable = false),
                  StructField("new_version", IntegerType, nullable = false))),
                Array[Any](before.size, ZoneMap.leafFiles(root, groupRel).size, newV))
            case other => throw new IllegalStateException(
              s"z-ordered table $tbl must declare exactly two dimensions, has $other")
          }
          spark.read.parquet(before.map(_.getAbsolutePath): _*)
            .coalesce(targetFiles)
            .write.mode("overwrite").parquet(s"$root/$groupRel")
          // one-winner commit, then re-derive the zone-map sidecar for
          // clustered tables — compaction must not silently disable
          // pruning and metadata deletes for every later version
          VersionedTable.commitManifest(root, newV, Seq(groupRel))
          meta.clusterCol.foreach(ZoneMap.analyze(spark, root, newV, _): Unit)
          meta.bloomCols.foreach(BloomMap.analyze(spark, root, newV, _): Unit)
          VersionedTable.vacuum(root, Seq(newV - 1, newV).filter(_ >= 1)): Unit
          val after = ZoneMap.leafFiles(root, groupRel).size
          resultScan(
            StructType(Seq(StructField("files_before", IntegerType, nullable = false),
              StructField("files_after", IntegerType, nullable = false),
              StructField("new_version", IntegerType, nullable = false))),
            Array[Any](before.size, after, newV))
        }
      }
  }

  /** One-row result schema + scan shared by the branch procedures. */
  private def simpleProc(procName: String, procDesc: String,
      params: => Array[procedures.ProcedureParameter],
      run: InternalRow => (StructType, Array[Any])): procedures.UnboundProcedure =
    new procedures.UnboundProcedure {
      override def name(): String = procName
      override def description(): String = procDesc
      override def bind(inputType: StructType): procedures.BoundProcedure =
        new procedures.BoundProcedure {
          override def name(): String = procName
          override def description(): String = procDesc
          override def parameters(): Array[procedures.ProcedureParameter] = params
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow): java.util.Iterator[Scan] = {
            val (schema, values) = run(input)
            resultScan(schema, values)
          }
        }
    }

  /** `CALL graft_vt.create_branch(tbl, name)` — fork the table's current
    * head as a named branch (see [[VtBranch]]); metadata-only.
    */
  val createBranchProc: procedures.UnboundProcedure = simpleProc(
    "create_branch", "fork the table's current head as a named branch",
    Array(param("tbl", StringType), param("name", StringType)),
    { input =>
      val tbl = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val meta = GraftVtCatalog.meta(tbl)
      require(meta.bucket.isEmpty,
        s"branches on bucketed table graft_vt.$tbl are not supported")
      val r = VtBranch.create(meta.root, name)
      (StructType(Seq(StructField("branch", StringType, nullable = false),
        StructField("fork_version", IntegerType, nullable = false))),
        Array[Any](UTF8String.fromString(name), r.fork))
    })

  /** `CALL graft_vt.fast_forward(tbl, name)` — promote the branch's
    * commits onto main (requires main unmoved since the fork) and drop
    * the branch. Manifest copies only — no data moves.
    */
  val fastForwardProc: procedures.UnboundProcedure = simpleProc(
    "fast_forward", "promote a branch's commits onto main and drop the branch",
    Array(param("tbl", StringType), param("name", StringType)),
    { input =>
      val tbl = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val (newHead, promoted) = VtBranch.fastForward(rootOf(tbl), name)
      (StructType(Seq(StructField("new_head_version", IntegerType, nullable = false),
        StructField("promoted_commits", IntegerType, nullable = false))),
        Array[Any](newHead, promoted))
    })

  /** `CALL graft_vt.drop_branch(tbl, name)` — delete the ref and branch
    * manifests; branch-only file groups become garbage for the next
    * vacuum.
    */
  val dropBranchProc: procedures.UnboundProcedure = simpleProc(
    "drop_branch", "delete a branch ref and its manifests",
    Array(param("tbl", StringType), param("name", StringType)),
    { input =>
      val tbl = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val head = VtBranch.ref(rootOf(tbl), name).head
      VtBranch.drop(rootOf(tbl), name)
      (StructType(Seq(StructField("dropped_branch", StringType, nullable = false),
        StructField("abandoned_commits", IntegerType, nullable = false))),
        Array[Any](UTF8String.fromString(name), head))
    })

  /** `CALL graft_vt.rebucket(tbl, num_buckets)` — BUCKET-COUNT
    * EVOLUTION: rewrite the current snapshot into a `b=<i>` layout with
    * a new modulus as a NEW version, then move the table's bucket spec
    * and its validity boundary ([[VtTableMeta.bucketSince]]). One
    * distributed read + one bucket-routed distributed write — the same
    * cost class as OPTIMIZE — after which joins against `num_buckets`-
    * bucketed (or ReducibleFunction-compatible) tables are shuffle-free
    * again. Older snapshots stay readable as plain scans; they just
    * stop claiming a partitioning their layout no longer matches.
    */
  val rebucketProc: procedures.UnboundProcedure = simpleProc(
    "rebucket", "rewrite the bucketed layout under a new bucket count as a new version",
    Array(param("tbl", StringType), param("num_buckets", IntegerType)),
    { input =>
      val tbl = input.getUTF8String(0).toString
      val newN = input.getInt(1)
      require(newN > 0, s"num_buckets must be positive, got $newN")
      val root = rootOf(tbl)
      val (key, oldN) = GraftVtCatalog.meta(tbl).bucket.getOrElse(
        throw new IllegalArgumentException(s"graft_vt.$tbl is not bucketed"))
      val spark = SparkSession.active
      val latest = VersionedTable.latestVersion(root)
      val files = VersionedTable.manifest(root, latest)
        .flatMap(ZoneMap.leafFiles(root, _)).map(f => s"$root/$f")
      val df = spark.read.parquet(files: _*)
      val newV = latest + 1
      val groupRel = s"files/rebucket_v$newV"
      VtBucket.writeBucketed(df, key, newN, s"$root/$groupRel")
      VersionedTable.commitManifest(root, newV, Seq(groupRel))
      GraftVtCatalog.update(tbl)(_.copy(bucket = Some((key, newN)), bucketSince = newV))
      (StructType(Seq(StructField("old_buckets", IntegerType, nullable = false),
        StructField("new_buckets", IntegerType, nullable = false),
        StructField("new_version", IntegerType, nullable = false))),
        Array[Any](oldN, newN, newV))
    })

  /** `CALL graft_vt.rollback(tbl, to_version)` — commit a NEW head whose
    * file list is exactly version `to_version`'s (history preserved; the
    * roll-forward-copy flavor of rollback, since this format's head is
    * the max manifest). Sidecars (zone maps, blooms, MOR state) are
    * copied with the manifest so pruning and merge-on-read semantics
    * survive the rollback. Driver metadata work only.
    */
  /** `CALL graft_vt.evolve_partition(tbl, unit)` — PARTITION-SPEC
    * EVOLUTION, metadata-only: move the table's write-layout unit
    * (e.g. day → hour as a fact table's ingest rate grows) for FUTURE
    * commits. No file is read or rewritten — the 100 TB point: Iceberg's
    * headline evolution works because partitioning is per-file metadata,
    * and here the per-file zone maps play that role, so a time-range
    * scan prunes day-era files at day granularity and hour-era files at
    * hour granularity through one uniform mechanism. The validity
    * boundary (first version the new spec governs) is persisted in
    * `_partspec.txt` history, mirroring `rebucket`'s versioned-boundary
    * design.
    */
  val evolvePartitionProc: procedures.UnboundProcedure = simpleProc(
    "evolve_partition", "change a unit-partitioned table's write unit for future commits (metadata-only)",
    Array(param("tbl", StringType), param("unit", org.apache.spark.sql.types.LongType)),
    { input =>
      val tbl = input.getUTF8String(0).toString
      val newUnit = input.getLong(1)
      require(newUnit > 0, s"unit must be positive, got $newUnit")
      val old = GraftVtCatalog.tables.get(tbl).flatMap(_.partUnit).getOrElse(
        throw new IllegalArgumentException(s"graft_vt.$tbl is not unit-partitioned"))
      val root = rootOf(tbl)
      val since = VersionedTable.latestVersion(root) + 1
      VtPartSpec.append(root, since, newUnit)
      GraftVtCatalog.update(tbl)(_.copy(partUnit = Some(newUnit)))
      (StructType(Seq(
        StructField("old_unit", org.apache.spark.sql.types.LongType, nullable = false),
        StructField("new_unit", org.apache.spark.sql.types.LongType, nullable = false),
        StructField("since_version", IntegerType, nullable = false))),
        Array[Any](old, newUnit, since))
    })

  val rollbackProc: procedures.UnboundProcedure = simpleProc(
    "rollback", "commit a new head restoring an older version's file list",
    Array(param("tbl", StringType), param("to_version", IntegerType)),
    { input =>
      val tbl = input.getUTF8String(0).toString
      val target = input.getInt(1)
      val root = rootOf(tbl)
      require(VersionedTable.exists(root, target),
        s"version $target of graft_vt.$tbl is not retained (vacuumed or never existed)")
      val entries = VersionedTable.manifest(root, target)
      val newV = VersionedTable.latestVersion(root) + 1
      VersionedTable.commitManifest(root, newV, entries)
      // the restored version's sidecars are valid verbatim (same files)
      VersionedTable.copySidecars(root, target, root, newV)
      (StructType(Seq(StructField("restored_from", IntegerType, nullable = false),
        StructField("new_version", IntegerType, nullable = false))),
        Array[Any](target, newV))
    })

  /** `CALL graft_vt.cherrypick(tbl, version)` — apply one APPEND-ONLY
    * commit's added file groups onto the current head as a new version
    * (Iceberg's `cherrypick_snapshot`, cf. iceberg docs
    * spark-procedures §cherrypick_snapshot): the picked commit must not
    * have removed files (a REPLACE/DELETE commit cannot be
    * cherry-picked — fail loudly, exactly as Iceberg does), its added
    * groups must not already sit in the head (double-apply guard), and
    * the new head is head ⊎ added, manifest write only. THE use case:
    * promote an orphaned append — staged via WAP, stranded by a
    * rollback, or landed on an abandoned line — without replaying data.
    * Cost is two manifest reads + one manifest write at any table size.
    */
  val cherrypickProc: procedures.UnboundProcedure = simpleProc(
    "cherrypick", "apply an append-only commit's added files onto the head as a new version",
    Array(param("tbl", StringType), param("version", IntegerType)),
    { input =>
      val tbl = input.getUTF8String(0).toString
      val v = input.getInt(1)
      val root = rootOf(tbl)
      require(VersionedTable.exists(root, v),
        s"version $v of graft_vt.$tbl is not retained (vacuumed or never existed)")
      val picked = VersionedTable.manifest(root, v)
      val parent = if (v <= 1) Seq.empty
        else VersionedTable.manifest(root, v - 1)
      require(parent.forall(picked.contains),
        s"version $v of graft_vt.$tbl removed files — " +
          "only append-only commits can be cherry-picked")
      val added = picked.filterNot(parent.toSet)
      require(added.nonEmpty, s"version $v of graft_vt.$tbl added no files")
      val head = VersionedTable.latestVersion(root)
      val headEntries = VersionedTable.manifest(root, head)
      require(!added.exists(headEntries.contains),
        s"version $v's files are already present at head v$head — " +
          "cherry-pick would double-apply the commit")
      val newV = head + 1
      VersionedTable.commitManifest(root, newV, headEntries ++ added)
      (StructType(Seq(StructField("picked_from", IntegerType, nullable = false),
        StructField("added_groups", IntegerType, nullable = false),
        StructField("new_version", IntegerType, nullable = false))),
        Array[Any](v, added.size, newV))
    })

  /** `CALL graft_vt.clone(src, dst)` — ZERO-COPY clone of the source's
    * current snapshot as a new, fully independent table (Delta's
    * `CREATE TABLE … SHALLOW CLONE` verb): the destination gets its own
    * root, manifest history starting at v1, the source's record with
    * every mode (bucket validity restarting at v1, the partition unit
    * as the clone's first spec line) and copies of the head's sidecars,
    * while every DATA file is HARD-LINKED — same inodes, zero
    * data bytes moved, cost ∝ number of files. Future commits on
    * either side are invisible to the other, and because links are
    * reference-counted by the filesystem, a `vacuum` on the source
    * that unlinks a shared group leaves the clone's copy intact — the
    * lifecycle hazard Delta shallow clones document away is structural
    * here. (At object-store scale the same design reads as
    * manifest-level absolute-path references; links are the
    * single-filesystem expression of it.) MOR sources are refused:
    * their tombstone sidecars carry cross-version sequence state a
    * fresh v1 history can't preserve — compact first, then clone.
    */
  val cloneProc: procedures.UnboundProcedure = simpleProc(
    "clone", "zero-copy snapshot clone as a new independent table",
    Array(param("src", StringType), param("dst", StringType)),
    { input =>
      val src = input.getUTF8String(0).toString
      val dst = input.getUTF8String(1).toString
      require(!GraftVtCatalog.tables.contains(dst),
        s"graft_vt.$dst already exists")
      val meta = GraftVtCatalog.meta(src)
      require(meta.morKey.isEmpty,
        s"graft_vt.$src is merge-on-read; CALL graft_vt.optimize first — " +
          "tombstone sidecars carry sequence state a fresh history can't keep")
      val root = meta.root
      val head = VersionedTable.latestVersion(root)
      val groups = VersionedTable.manifest(root, head)
      // a sibling of the source (hard links need one filesystem), named
      // per call: no other JVM's clone, nor this JVM's earlier clone of
      // the same name since renamed, can share it
      val dstDir = new java.io.File(new java.io.File(root).getParentFile,
        Scratch.uniqueName(s"vtclone_$dst"))
      Scratch.deleteAtExit(dstDir).mkdirs()
      val dstRoot = dstDir.getAbsolutePath
      var nFiles = 0
      groups.foreach { g =>
        val from = java.nio.file.Paths.get(s"$root/$g")
        val to = java.nio.file.Paths.get(s"$dstRoot/$g")
        // Files.walk holds directory handles until closed — many-group
        // clones would otherwise exhaust file descriptors
        scala.util.Using.resource(java.nio.file.Files.walk(from)) { walk =>
          walk.forEach { p =>
            val rel = from.relativize(p)
            val target = to.resolve(rel)
            if (java.nio.file.Files.isDirectory(p))
              java.nio.file.Files.createDirectories(target): Unit
            else {
              java.nio.file.Files.createDirectories(target.getParent)
              java.nio.file.Files.createLink(target, p)
              nFiles += 1
            }
          }
        }
      }
      VersionedTable.writeManifest(dstRoot, 1, groups)
      VersionedTable.copySidecars(root, head, dstRoot, 1)
      meta.partUnit.foreach(VtPartSpec.append(dstRoot, 1, _))
      GraftVtCatalog.tables.put(dst, meta.copy(root = dstRoot, bucketSince = 1)): Unit
      (StructType(Seq(StructField("cloned_version", IntegerType, nullable = false),
        StructField("groups", IntegerType, nullable = false),
        StructField("files_linked", IntegerType, nullable = false),
        StructField("data_bytes_copied", IntegerType, nullable = false))),
        Array[Any](head, groups.size, nFiles, 0))
    })
}

/** One `graft_vt` table's catalog record: its root, its schema and every
  * per-table mode. The lifecycle moves it as one value — a register puts
  * a fresh record (so a re-register resets every mode), DROP removes
  * it, RENAME moves it, clone copies it onto the clone's root, and a
  * staged CREATE OR REPLACE commits a record built up front — and a
  * [[GraftVtTable]] reads the record it was loaded with.
  *
  * @param clusterCol long cluster column: zone-map pruning on reads,
  *   ordered-distribution requirement + stats capture on writes.
  * @param colMapping RENAME/DROP COLUMN state (see [[GraftVtCatalog
  *   .ColMapping]]).
  * @param morKey long KEY column of a MERGE-ON-READ table: row-level ops
  *   write key tombstones + delta files instead of rewriting groups, and
  *   reads merge them (see [[VtMor]]).
  * @param check the CHECK constraint, enforced at the WRITE boundary by
  *   every COW/INSERT writer task: a violating row fails the task, the
  *   write aborts, and the manifest never commits.
  * @param bloomCols BLOOM-INDEXED columns: per-file bloom sidecars
  *   ([[BloomMap]]) give point-lookup file skipping on columns the layout
  *   does NOT order — orthogonal to the cluster/z-order range stats.
  * @param statsCols EXTRA file-skipping stats columns (beyond the cluster
  *   column): the Z-ORDERED layout's two interleaved dimensions, so scans
  *   prune on predicates against EITHER. Versions written later without
  *   fresh sidecars stop pruning until re-analyzed or optimized.
  * @param bucket (long key column, bucket count) of a BUCKETED layout:
  *   scans report KeyGroupedPartitioning over bucket(n, key) and
  *   storage-partitioned joins skip the shuffle (see [[VtBucket]]).
  * @param bucketSince first version the CURRENT bucket spec describes.
  *   `CALL graft_vt.rebucket` rewrites the layout as a new version and
  *   moves this boundary: a time-travel read BELOW it must not claim the
  *   new KeyGroupedPartitioning (its `b=<i>` dirs encode the OLD modulus
  *   — an aligned SPJ against them would join wrong rows), so
  *   pre-boundary snapshots read as plain file scans.
  * @param partUnit ACTIVE partition unit (in the cluster column's own
  *   scale, e.g. micros) of a unit-partitioned layout: INSERTs route one
  *   file per unit ([[VtRoute]]). Spec history with validity boundaries
  *   persists in the root's `_partspec.txt` ([[VtPartSpec]]); `CALL
  *   graft_vt.evolve_partition` moves it for FUTURE writes only —
  *   existing files keep their old granularity and zone maps prune both
  *   generations uniformly.
  */
private[sources] final case class VtTableMeta(root: String, schema: StructType,
    clusterCol: Option[String] = None,
    colMapping: GraftVtCatalog.ColMapping = GraftVtCatalog.ColMapping(),
    morKey: Option[String] = None,
    check: Option[VtCheck] = None,
    bloomCols: Seq[String] = Nil,
    statsCols: Seq[String] = Nil,
    bucket: Option[(String, Int)] = None,
    bucketSince: Int = 1,
    partUnit: Option[Long] = None) {

  /** Logical→physical column renames in force (identity omitted) —
    * empty for tables that never saw RENAME COLUMN.
    */
  lazy val colMap: Map[String, String] = colMapping.l2p.filter { case (l, p) => l != p }

  /** Rename a logical-schema struct to the PHYSICAL names files store —
    * positional identity, only labels change.
    */
  def physify(s: StructType): StructType =
    if (colMap.isEmpty) s
    else StructType(s.fields.map(f => f.copy(name = colMap.getOrElse(f.name, f.name))))
}

/** A CHECK constraint: a boolean SQL expression over the table's
  * columns, SQL-standard semantics (a row violates only when it is
  * FALSE — NULL passes), and the constraint NAME when it was added by
  * `ALTER TABLE ... ADD CONSTRAINT` (`DROP CONSTRAINT` resolves against
  * it; property-registered checks have none).
  */
private[sources] final case class VtCheck(sql: String, name: Option[String] = None)

object GraftVtCatalog {
  /** table name -> its record. Mutable on purpose: a re-register for a
    * different source dir swaps the record (tables are resolved at
    * loadTable time, so the next query sees the new root — no per-JVM
    * staleness; ADVICE r08 on the buildChain cache).
    */
  private[sources] val tables = TrieMap.empty[String, VtTableMeta]

  /** Idempotently expose the catalog on the session as `graft_vt`. */
  def ensure(spark: SparkSession): Unit =
    if (!spark.conf.getOption("spark.sql.catalog.graft_vt").contains(classOf[GraftVtCatalog].getName))
      spark.conf.set("spark.sql.catalog.graft_vt", classOf[GraftVtCatalog].getName)

  /** Per-table RENAME/DROP state: `l2p` maps logical column names to
    * the physical names stored in files (identity entries omitted);
    * `retired` holds physical names of dropped columns, permanently
    * unavailable for reuse (resurrection guard). See [[GraftVtCatalog
    * .alterTable]].
    */
  private[sources] case class ColMapping(l2p: Map[String, String] = Map.empty,
      retired: Set[String] = Set.empty)

  /** The record registered under `name`. */
  private[sources] def meta(name: String): VtTableMeta =
    tables.getOrElse(name, throw new IllegalArgumentException(s"unknown graft_vt table: $name"))

  /** Bind `name` to `meta`, replacing any earlier record whole. */
  private[sources] def put(spark: SparkSession, name: String, meta: VtTableMeta): Unit = {
    ensure(spark)
    tables.put(name, meta): Unit
  }

  /** Replace the record registered under `name` by `f` of it. */
  private[sources] def update(name: String)(f: VtTableMeta => VtTableMeta): Unit = {
    require(tables.contains(name), s"unknown graft_vt table: $name")
    tables.put(name, f(tables(name))): Unit
  }

  /** Attach a CHECK constraint to a registered table (`TBLPROPERTIES
    * ('check' = '<expr>')` is the DDL face). Takes effect on the next
    * write; existing data is not re-validated (re-validate by running
    * the expression as a query).
    */
  def registerCheck(name: String, exprSql: String): Unit =
    update(name)(_.copy(check = Some(VtCheck(exprSql))))

  /** Declare bloom-indexed columns for a registered table. Callers run
    * [[BloomMap.analyze]] per column to build the current version's
    * sidecars; versions without sidecars read unpruned.
    */
  def registerBloomCols(name: String, cols: Seq[String]): Unit =
    update(name) { m =>
      cols.foreach(c => require(m.schema.fieldNames.contains(c), s"no such column: $c"))
      m.copy(bloomCols = cols)
    }

  /** Register a Z-ORDERED table: the files were laid out along a
    * Morton curve over `cols` (see [[graft.operators.ZOrder]]), so each
    * file's [min, max] footprint is narrow in EVERY dimension at once
    * and the per-column sidecars make box predicates prune to the
    * intersecting tiles. Callers must [[ZoneMap.analyze]] each column
    * for the registered version.
    */
  def registerZOrdered(spark: SparkSession, name: String, root: String,
      schema: StructType, cols: Seq[String]): Unit =
    put(spark, name, zOrdered(root, schema, cols))

  private[sources] def zOrdered(root: String, schema: StructType,
      cols: Seq[String]): VtTableMeta = {
    require(cols.nonEmpty, "z-ordered registration needs at least one stats column")
    cols.foreach { c =>
      require(schema.fieldNames.contains(c), s"no such column: $c")
      require(schema(c).dataType == org.apache.spark.sql.types.LongType,
        s"stats column $c must be BIGINT, got ${schema(c).dataType}")
    }
    VtTableMeta(root, schema, statsCols = cols)
  }

  /** Register a bucketed table (every file group under the root must
    * use the `b=<i>` layout written by [[VtBucket.writeBucketed]]).
    */
  def registerBucketed(spark: SparkSession, name: String, root: String,
      schema: StructType, keyCol: String, numBuckets: Int): Unit =
    put(spark, name, bucketed(root, schema, keyCol, numBuckets))

  private[sources] def bucketed(root: String, schema: StructType, keyCol: String,
      numBuckets: Int): VtTableMeta = {
    require(schema.fieldNames.contains(keyCol), s"no such column: $keyCol")
    require(schema(keyCol).dataType == org.apache.spark.sql.types.LongType,
      s"bucket key $keyCol must be BIGINT, got ${schema(keyCol).dataType}")
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    VtTableMeta(root, schema, bucket = Some((keyCol, numBuckets)))
  }

  /** Register a TIME-PARTITIONED table: INSERTs route one file per
    * `unit` of the LONG `tsCol` (zone-mapped, so time-range scans prune
    * to O(matching units) files). The active unit persists with its
    * validity boundary in the root's `_partspec.txt`;
    * `CALL graft_vt.evolve_partition` changes it for FUTURE writes only
    * — Iceberg-style partition-spec evolution, metadata-only, mixed
    * layouts prune uniformly through the per-file zone maps.
    */
  def registerPartitioned(spark: SparkSession, name: String, root: String,
      schema: StructType, tsCol: String, unit: Long): Unit = {
    require(schema.fieldNames.contains(tsCol), s"no such column: $tsCol")
    require(schema(tsCol).dataType == org.apache.spark.sql.types.LongType,
      s"partition column $tsCol must be BIGINT, got ${schema(tsCol).dataType}")
    require(unit > 0, s"unit must be positive, got $unit")
    // re-registration must not reset an evolved table to its birth unit
    // — the persisted spec line wins over the argument
    val active = VtPartSpec.active(root).getOrElse {
      VtPartSpec.append(root, 1, unit); unit
    }
    put(spark, name, VtTableMeta(root, schema, Some(tsCol), partUnit = Some(active)))
  }

  /** Register a merge-on-read table (root must hold a `_mor_v1.json`
    * built by [[VtMor.createVersion1]]).
    */
  def registerMor(spark: SparkSession, name: String, root: String,
      schema: StructType, keyCol: String): Unit =
    put(spark, name, VtTableMeta(root, schema, morKey = Some(keyCol)))

  /** Register a plain (or, with `clusterCol`, clustered) table; like
    * every `register*`, it replaces the name's whole record, so no mode
    * of an earlier registration survives.
    */
  def register(spark: SparkSession, name: String, root: String, schema: StructType,
      clusterCol: Option[String] = None): Unit =
    put(spark, name, VtTableMeta(root, schema, clusterCol))

  /** The registered root for a table, if any (test/inspection hook). */
  def rootOf(name: String): Option[String] = tables.get(name).map(_.root)

  /** v2 Column[] → StructType KEEPING column defaults (a hand-rolled
    * StructField drops them): `CURRENT_DEFAULT` carries the original
    * SQL for INSERT omission; `EXISTS_DEFAULT` freezes the CREATE-time
    * literal — same contract as the ALTER ADD COLUMN path. (Spark's
    * own CatalogV2Util.v2ColumnsToStructType is private[sql].)
    */
  private[sources] def v2ToStructType(
      columns: Array[org.apache.spark.sql.connector.catalog.Column]): StructType =
    StructType(columns.map { c =>
      val base = org.apache.spark.sql.types.StructField(
        c.name(), c.dataType(), c.nullable())
      Option(c.defaultValue()) match {
        case None => base
        case Some(dv) =>
          require(dv.getValue != null,
            s"column ${c.name()} DEFAULT ${dv.getSql}: the default must " +
              "fold to a constant at CREATE time")
          val frozen = org.apache.spark.sql.catalyst.expressions.Literal(
            dv.getValue.value, dv.getValue.dataType).sql
          base.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", dv.getSql)
            .putString("EXISTS_DEFAULT", frozen)
            .build())
      }
    })
}

/** One versioned table, optionally pinned to a manifest version (time
  * travel), over the catalog record it was loaded with. Reads resolve
  * the manifest at scan-build time; the DML write commits `current + 1`.
  */
class GraftVtTable private[sources] (tableName: String,
    private[sources] val meta: VtTableMeta, pinnedVersion: Option[Int])
  extends Table with SupportsRead with SupportsWrite with SupportsRowLevelOperations
  with SupportsDelete {

  val root: String = meta.root
  private def tableSchema = meta.schema

  private def spark = SparkSession.active

  private[sources] def currentVersion: Int = VersionedTable.latestVersion(root)

  private def readVersionN: Int = pinnedVersion.getOrElse(currentVersion)

  override def name(): String = s"graft_vt.$tableName"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION opts into `MERGE WITH SCHEMA
    // EVOLUTION`: the analyzer computes the AddColumn deltas from the
    // source schema and routes them through [[GraftVtCatalog.alterTable]]
    // (metadata-only) before planning the merge — MOR targets hit that
    // method's loud refusal at analysis, never a half-evolved write
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** Layout and contract surfaced to `DESCRIBE TABLE EXTENDED` / `SHOW
    * TBLPROPERTIES`: what a user needs to know to predict this table's
    * pruning, join, and write behavior.
    */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("format", "graft_vt")
    m.put("current_version", currentVersion.toString)
    meta.clusterCol.foreach(m.put("cluster", _))
    if (meta.statsCols.nonEmpty) m.put("zorder", meta.statsCols.mkString(","))
    meta.check.foreach(c => m.put("check", c.sql))
    if (meta.bloomCols.nonEmpty) m.put("bloom_columns", meta.bloomCols.mkString(","))
    meta.morKey.foreach(m.put("merge_on_read_key", _))
    meta.bucket.foreach { case (k, n) =>
      m.put("bucket_key", k); m.put("num_buckets", n.toString): Unit
    }
    m
  }

  /** Bucketed tables DECLARE their layout — `DESCRIBE` shows it, and
    * the scan's KeyGroupedPartitioning reports the matching transform.
    */
  override def partitioning(): Array[Transform] =
    meta.bucket.map { case (k, n) =>
      org.apache.spark.sql.connector.expressions.Expressions.bucket(n, k)
    }.toArray

  /** Delegate to Spark's parquet DSv2 table over the manifest's files —
    * vectorized scan + pushdown + pruning, bound to one snapshot. Reads
    * request PHYSICAL column names; [[ColMapScanBuilder]] relabels the
    * scan output back to logical names when a mapping is in force.
    */
  private[sources] def parquetTable(version: Int): ParquetTable = {
    val paths = VersionedTable.manifest(root, version).map(g => s"$root/$g")
    ParquetTable(name(), spark, CaseInsensitiveStringMap.empty(), paths,
      Some(meta.physify(tableSchema)), classOf[ParquetFileFormat])
  }

  /** Zone-map-pruned when the table has a cluster column AND the bound
    * version has a stats sidecar; the plain full-manifest parquet scan
    * otherwise. Pruning never changes semantics — every filter stays
    * residual, the sidecar only shrinks the FILE LIST the scan binds.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // streaming read (one micro-batch per committed version) is opt-in
    // so the batch path keeps Spark's parquet scan — and its stats/DPP
    // integration — completely untouched
    if (options.getBoolean("graft.stream", false)) {
      require(meta.colMap.isEmpty,
        s"streaming read of $tableName after RENAME COLUMN is not supported")
      return new VtStreamScanBuilder(root, tableSchema)
    }
    // merge-on-read tables merge tombstones in a custom scan
    meta.morKey.foreach { k =>
      return new MorScanBuilder(root, tableSchema, k, readVersionN)
    }
    // bucketed tables report KeyGroupedPartitioning for shuffle-free
    // joins — but only for versions the CURRENT spec describes: a
    // pre-rebucket snapshot's b=<i> dirs encode the old modulus, so
    // claiming the new partitioning would align an SPJ on wrong keys.
    // Those snapshots read as plain (leaf-file) parquet scans.
    meta.bucket.foreach { case (k, n) =>
      if (readVersionN >= meta.bucketSince)
        return new BucketedScanBuilder(name(), root, meta.physify(tableSchema),
          readVersionN, k, n, options)
      val files = VersionedTable.manifest(root, readVersionN)
        .flatMap(ZoneMap.leafFiles(root, _)).sorted.map(f => s"$root/$f")
      return ParquetTable(name(), spark, CaseInsensitiveStringMap.empty(), files,
        Some(meta.physify(tableSchema)), classOf[ParquetFileFormat]).newScanBuilder(options)
    }
    batchScanBuilder(readVersionN, options)
  }

  /** The batch scan for one snapshot: zone-map-pruned when clustered +
    * analyzed, plain parquet otherwise; wrapped in the logical↔physical
    * name translation when a RENAME mapping is in force.
    */
  private[sources] def batchScanBuilder(version: Int,
      options: CaseInsensitiveStringMap): ScanBuilder = {
    // every stats-bearing column with a sidecar for THIS version prunes:
    // the cluster column (single-dimension layout) and/or the z-order
    // dimensions (multi-dimension layout)
    val statsByCol = (meta.clusterCol.toSeq ++ meta.statsCols).distinct
      .flatMap(c => ZoneMap.read(root, version, c).map(c -> _))
    val bloomByCol = meta.bloomCols
      .flatMap(c => BloomMap.read(root, version, c).map(c -> _))
    val inner =
      if (statsByCol.nonEmpty || bloomByCol.nonEmpty)
        new ZoneMapScanBuilder(name(), root, meta.physify(tableSchema), version,
          statsByCol, options, bloomByCol)
      else parquetTable(version).newScanBuilder(options)
    if (meta.colMap.isEmpty) inner else new ColMapScanBuilder(inner, meta.colMap)
  }

  /** The table's CHECK constraint, analyzed and BOUND BY POSITION to
    * the table schema: the raw expression is resolved through the real
    * analyzer (type coercion included) against a LocalRelation of the
    * LOGICAL schema's attributes, wrapped in `coalesce(expr, true)`
    * (SQL-standard CHECK: only FALSE violates, NULL passes), and bound
    * to ordinals — rows are positional, so the bound form is valid on
    * physical rows regardless of any RENAME COLUMN mapping.
    */
  private[sources] def boundCheck
      : Option[(String, org.apache.spark.sql.catalyst.expressions.Expression)] =
    meta.check.map(c => c.sql -> GraftVtTable.bindCheck(spark, tableSchema, c.sql))

  /** `INSERT INTO` (append: new manifest = current entries + new group)
    * and `INSERT OVERWRITE` (truncate: new manifest = new group only).
    * Both are one distributed write + a one-line driver commit — the
    * append never rewrites existing data, so cost ∝ inserted rows.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // the plain COW append doesn't maintain MOR sequence metadata — an
    // appended file would default to an ancient sequence and old
    // tombstones could swallow its rows. Refuse loudly; MOR tables
    // mutate through MERGE (insert arm) until the append path learns
    // to stamp sequences.
    require(meta.morKey.isEmpty,
      s"INSERT INTO merge-on-read table $tableName is not supported; use MERGE")
    new WriteBuilder with SupportsTruncate {
      private var base: () => Seq[String] =
        () => VersionedTable.manifest(root, currentVersion)
      override def truncate(): WriteBuilder = { base = () => Nil; this }
      override def build(): Write = new GraftVtWrite(root, currentVersion + 1,
        meta.physify(info.schema()), base, meta.clusterCol, s"graft_vt INSERT", meta.bucket,
        boundCheck, partUnit = meta.partUnit)
    }
  }

  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = meta.morKey match {
        case Some(k) => new MorRowLevelOperation(GraftVtTable.this, info.command(), k)
        case None => new GraftVtRowLevelOperation(GraftVtTable.this, info.command())
      }
    }

  /** METADATA-ONLY DELETE — the fast path Spark's
    * `OptimizeMetadataOnlyDeleteFromTable` rule swaps in ahead of the
    * COW rewrite whenever `canDeleteWhere` accepts: when every manifest
    * file is PROVABLY all-deleted or all-kept under the predicate (zone
    * maps decide — [[ZoneMap.mustMatch]] / [[ZoneMap.mayMatch]]), the
    * delete is one driver-side manifest commit naming the kept files.
    * NO data file is read or written. A predicate that splits any file
    * returns false and the ordinary distributed rewrite runs — the
    * clustered layout is exactly what makes range deletes (retention by
    * id/time) land on this path at 100 TB: dropping 30% of a corpus
    * costs a directory listing, not a 30 TB rewrite.
    */
  private def planMetadataDelete(
      filters: Array[org.apache.spark.sql.sources.Filter]): Option[(Int, Seq[String])] =
    for {
      zc <- meta.clusterCol
      v = currentVersion
      stats <- ZoneMap.read(root, v, zc)
      nulls = ZoneMap.readNullCounts(root, v, zc)
      files = VersionedTable.manifest(root, v).flatMap(ZoneMap.leafFiles(root, _))
      classified = files.map { f =>
        stats.get(f) match {
          // a whole-file DROP needs the range proof AND a proof the file
          // holds no NULL keys — a null key never satisfies a comparison,
          // so null rows must SURVIVE any predicate delete; unknown null
          // counts (legacy sidecars) make the file undecidable
          case Some((lo, hi)) if filters.forall(ZoneMap.mustMatch(_, zc, lo, hi))
              && nulls.get(f).contains(0L) =>
            Some(None) // provably all-deleted: drop
          case Some((lo, hi)) if filters.exists(!ZoneMap.mayMatch(_, zc, lo, hi)) =>
            Some(Some(f)) // provably untouched: keep
          case _ => None // split, un-stats'd, or null-bearing: undecidable
        }
      }
      kept <- if (classified.forall(_.isDefined)) Some(classified.flatMap(_.get))
              else None
    } yield (v, kept)

  /** canDeleteWhere's plan — the version it read and the files that
    * survive — reused by the deleteWhere that follows it: one sidecar
    * read and directory listing per statement, not two, and the commit
    * lands on top of the version the plan read, so a commit in between
    * is a conflict rather than a lost update.
    */
  @volatile private var plannedDelete: Option[(Seq[org.apache.spark.sql.sources.Filter],
      Option[(Int, Seq[String])])] = None

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    val plan = planMetadataDelete(filters)
    plannedDelete = Some((filters.toSeq, plan))
    plan.isDefined
  }

  /** `TRUNCATE TABLE` — ALWAYS metadata-only in this format: commit a
    * new EMPTY manifest (the one-winner commit every writer uses). The
    * default SupportsDelete.truncateTable routes through
    * canDeleteWhere(AlwaysTrue), which only accepts on zone-mapped
    * layouts — and Spark treats its `false` as a SILENT no-op, the
    * worst possible truncate. Old versions stay readable
    * under retention/tags; files are collected by the ordinary
    * retention pass, never here.
    */
  override def truncateTable(): Boolean = {
    require(meta.morKey.isEmpty,
      s"TRUNCATE TABLE on merge-on-read table $tableName is not supported")
    VersionedTable.commitManifest(root, currentVersion + 1, Nil)
    true
  }

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val (v, kept) = plannedDelete.collect {
      case (fs, plan) if fs == filters.toSeq => plan
    }.getOrElse(planMetadataDelete(filters)).getOrElse(
      throw new IllegalStateException("deleteWhere called without canDeleteWhere"))
    val newV = v + 1
    VersionedTable.commitManifest(root, newV, kept.sorted)
    // a plan exists only for a clustered table with a sidecar at v
    meta.clusterCol.foreach(VersionedTable.carryZoneMap(root, v, newV, _, kept.toSet))
    VersionedTable.vacuum(root, Seq(v, newV)): Unit
  }
}

object GraftVtTable {
  /** Analyze a CHECK constraint against `schema` and bind it by
    * position (see [[GraftVtTable.boundCheck]]): the real analyzer runs
    * (type coercion included) over a LocalRelation of the schema's
    * attributes, the condition is wrapped in `coalesce(expr, true)`
    * (SQL-standard CHECK: only FALSE violates), and the result is
    * ordinal-bound — valid on positional physical rows. Throws on
    * unresolvable or non-boolean text, which is also how DDL sites
    * validate BEFORE registering anything.
    */
  private[sources] def bindCheck(spark: SparkSession, schema: StructType,
      exprSql: String): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, Coalesce, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val parsed = spark.sessionState.sqlParser.parseExpression(exprSql)
    val analyzed = spark.sessionState.analyzer
      .execute(Filter(parsed, LocalRelation(attrs)))
    val cond = analyzed.collectFirst { case f: Filter => f.condition }
      .getOrElse(throw new IllegalArgumentException(
        s"cannot analyze CHECK constraint: $exprSql"))
    require(cond.resolved && cond.dataType == org.apache.spark.sql.types.BooleanType,
      s"CHECK constraint must be a boolean expression over the table's columns: $exprSql")
    BindReferences.bindReference(Coalesce(Seq(cond, Literal(true))), attrs)
  }

  /** Create/overwrite a named tag pointing at `version`. Tags are
    * driver-side one-line files; vacuum ignores them deliberately — a
    * tag PINS its version against retention policies that would
    * otherwise drop it (callers pass tagged versions into the keep-set).
    */
  def tag(root: String, name: String, version: Int): Unit = {
    require(name.matches("[A-Za-z][A-Za-z0-9_-]*"), s"invalid tag name: $name")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_ref_$name.txt"), version.toString): Unit
  }

  def resolveTag(root: String, name: String): Int = {
    val p = java.nio.file.Paths.get(s"$root/_ref_$name.txt")
    require(java.nio.file.Files.exists(p), s"no such tag: $name under $root")
    java.nio.file.Files.readString(p).trim.toInt
  }

}

/** Scan builder with FILE-LEVEL data skipping: pushed filters on the
  * cluster column are tested against the manifest's zone-map sidecar and
  * files whose [min, max] provably can't match are dropped from the scan
  * BEFORE any task is planned. Every filter is reported residual
  * (`pushedFilters()` empty), so Spark keeps the exact Filter node and
  * correctness never depends on the pruning; the surviving files still
  * get full parquet pushdown — the captured filters are replayed into
  * the delegated parquet builder, which keeps row-group skipping and
  * column pruning intact below the file-level skip.
  */
class ZoneMapScanBuilder(tableName: String, root: String, tableSchema: StructType,
    version: Int, statsByCol: Seq[(String, Map[String, (Long, Long)])],
    options: CaseInsensitiveStringMap,
    bloomByCol: Seq[(String, Map[String, org.apache.spark.util.sketch.BloomFilter])] = Nil)
  extends ScanBuilder
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.types.{LongType, StructField}

  /** Single-stats-column convenience (clustered tables). */
  def this(tableName: String, root: String, tableSchema: StructType, version: Int,
      zcol: String, stats: Map[String, (Long, Long)], options: CaseInsensitiveStringMap) =
    this(tableName, root, tableSchema, version, Seq(zcol -> stats), options)

  private var pushed: Seq[Expression] = Nil
  private var required: StructType = tableSchema
  private var aggResult: Option[(StructType, Array[Any])] = None

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushed = filters
    filters // ALL residual — pruning is an optimization, never a contract
  }
  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty
  override def pruneColumns(s: StructType): Unit = required = s

  /** MANIFEST-LEVEL AGGREGATE PUSHDOWN — whole-table `COUNT(*)` /
    * `COUNT(zcol)` / `MIN(zcol)` / `MAX(zcol)` answered from the
    * zone-map sidecar alone: min of the per-file minima, sum of the
    * per-file row counts. No file is opened, no task is launched — the
    * scan collapses to a one-row [[LocalScan]]. This is the query a
    * 100 TB table gets asked constantly ("how many documents? what's
    * the id range?"), and the sidecar answers it in driver microseconds
    * where even parquet-footer pushdown schedules a task per file.
    *
    * Declined (conservative, falls back to the ordinary scan) unless
    * the answer is PROVABLE from metadata: no residual filters, no
    * GROUP BY, no DISTINCT, every manifest file present in the sidecar
    * (an all-null-key or never-analyzed file makes min/max unknowable),
    * and — for counts — per-file row counts recorded (sidecars written
    * before the row-count column read back as "unknown").
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    planAggregate(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    planAggregate(agg) match {
      case some @ Some(_) => aggResult = some; true
      case None => false
    }

  /** The stats column `e` names, if we hold a sidecar for it, its type
    * is BIGINT, and the sidecar covers EVERY manifest file — a file
    * absent from a sidecar is either unanalyzed or all-null-keyed, and
    * both make a metadata answer on that column unprovable.
    */
  private def coveredCol(e: org.apache.spark.sql.connector.expressions.Expression,
      files: Seq[String]): Option[(String, Map[String, (Long, Long)])] =
    e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        val n = nr.fieldNames()(0)
        statsByCol.find(_._1 == n).filter { case (c, stats) =>
          tableSchema.fieldNames.contains(c) &&
            tableSchema(c).dataType == LongType && files.forall(stats.contains)
        }
      case _ => None
    }

  // the planner probes twice (supportCompletePushDown, then
  // pushAggregation with the same Aggregation) and each Count walks the
  // same sidecar — memoize the manifest listing, the per-column
  // row/null maps, and the last plan, so one query costs one sidecar
  // parse however many aggregates it carries (at 10^6 files the
  // repeated driver IO would otherwise eat the metadata-answer win)
  private lazy val manifestFiles: Seq[String] =
    VersionedTable.manifest(root, version).flatMap(ZoneMap.leafFiles(root, _))
  private val rowCountsFor = scala.collection.mutable.Map.empty[String, Map[String, Long]]
  private val nullCountsFor = scala.collection.mutable.Map.empty[String, Map[String, Long]]
  private def rowCounts(c: String) =
    rowCountsFor.getOrElseUpdate(c, ZoneMap.readRowCounts(root, version, c))
  private def nullCounts(c: String) =
    nullCountsFor.getOrElseUpdate(c, ZoneMap.readNullCounts(root, version, c))
  private var lastPlanned: Option[(Aggregation, Option[(StructType, Array[Any])])] = None

  private def planAggregate(agg: Aggregation): Option[(StructType, Array[Any])] = {
    lastPlanned.collect { case (a, p) if a eq agg => return p }: Unit
    val p = planAggregateUncached(agg)
    lastPlanned = Some((agg, p))
    p
  }

  private def planAggregateUncached(agg: Aggregation): Option[(StructType, Array[Any])] = {
    if (pushed.nonEmpty || agg.groupByExpressions().nonEmpty ||
        agg.aggregateExpressions().isEmpty) return None
    val files = manifestFiles
    // COUNT(*) can answer from ANY column's sidecar that records a row
    // count for every file
    lazy val starRows: Option[Map[String, Long]] = statsByCol.view
      .filter { case (_, stats) => files.forall(stats.contains) }
      .map { case (c, _) => rowCounts(c) }
      .find(rc => files.forall(rc.contains))
    val cols = agg.aggregateExpressions().map {
      case _: CountStar =>
        starRows.map(rc => (StructField(s"count(*)", LongType, nullable = false),
          files.map(rc).sum: Any))
      case c: Count if !c.isDistinct =>
        coveredCol(c.column, files).flatMap { case (n, _) =>
          if (files.forall(f => rowCounts(n).contains(f) && nullCounts(n).contains(f)))
            Some((StructField(s"count($n)", LongType, nullable = false),
              files.map(f => rowCounts(n)(f) - nullCounts(n)(f)).sum: Any))
          else None
        }
      case m: Min =>
        coveredCol(m.column, files).map { case (n, stats) =>
          (StructField(s"min($n)", LongType, nullable = true),
            if (files.isEmpty) null else files.map(stats(_)._1).min: Any)
        }
      case m: Max =>
        coveredCol(m.column, files).map { case (n, stats) =>
          (StructField(s"max($n)", LongType, nullable = true),
            if (files.isEmpty) null else files.map(stats(_)._2).max: Any)
        }
      case _ => None
    }
    if (cols.exists(_.isEmpty)) None
    else Some((StructType(cols.map(_.get._1)), cols.map(_.get._2)))
  }

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    aggResult.foreach { case (schema, values) =>
      ZoneMapScanBuilder.lastAggPushdown = Some(schema.fieldNames.mkString(","))
      return new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = Array(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values))
        override def description(): String =
          s"GraftZoneMapAggScan ${schema.fieldNames.mkString(",")}"
      }
    }
    val v1 = pushed.flatMap(ZoneMap.toV1Filter)
    val all = manifestFiles
    // every stats column prunes independently; a file survives only if
    // NO sidecar can prove it empty — on a Z-ORDERED layout this is the
    // 2-D tile intersection (a box predicate on (x, y) keeps only files
    // whose x-span AND y-span both overlap the box)
    val zoneKept = statsByCol.foldLeft(all) { case (files, (c, stats)) =>
      ZoneMap.prune(stats, c, v1, files)
    }
    // bloom sidecars prune the remainder on equality/IN probes —
    // point-lookup skipping on columns the layout does not order
    val kept = bloomByCol.foldLeft(zoneKept) { case (files, (c, blooms)) =>
      if (tableSchema.fieldNames.contains(c))
        BloomMap.prune(blooms, c, tableSchema(c).dataType, v1, files)
      else files
    }
    ZoneMapScanBuilder.lastPrune = (all.size, kept.size)
    new ZoneMapRuntimeScan(tableName, root, tableSchema, statsByCol,
      options, pushed, required, kept, bloomByCol)
  }
}

object ZoneMapScanBuilder {
  /** (manifest files, files the last scan kept) — spec inspection hook. */
  @volatile var lastPrune: (Int, Int) = (0, 0)

  /** Pushed-aggregate columns of the last metadata-answered scan. */
  @volatile var lastAggPushdown: Option[String] = None
}

/** The zone-map scan itself — a delegating wrapper over Spark's parquet
  * DSv2 scan that adds RUNTIME file-level pruning
  * ([[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]]):
  * when this table is the FACT side of a join whose other side carries a
  * selective filter, Spark's dynamic-pruning rule plans the dim side's
  * join keys as a runtime IN-filter, delivers it here after the build
  * side executes, and the scan re-binds to only the files whose
  * [min, max] can hold one of those keys — join-driven data skipping
  * with no static predicate on the fact table at all. At 100 TB this is
  * the star-join shape: "events for these 12 customers" reads the
  * customers' files, not the corpus.
  *
  * Conservative by construction: only IN/= predicates on the zone
  * column prune (anything else leaves the file list untouched), pruning
  * uses the same [[ZoneMap.mayMatch]] proof as static pruning, and the
  * join's own row-level filter still runs above — dropped files are
  * provably row-free for the delivered keys.
  */
class ZoneMapRuntimeScan(tableName: String, root: String, tableSchema: StructType,
    statsByCol: Seq[(String, Map[String, (Long, Long)])],
    options: CaseInsensitiveStringMap,
    pushed: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    required: StructType, initialFiles: Seq[String],
    bloomByCol: Seq[(String, Map[String, org.apache.spark.util.sketch.BloomFilter])] = Nil)
  extends org.apache.spark.sql.connector.read.Scan
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  private type LitV = org.apache.spark.sql.connector.expressions.Literal[_]

  @volatile private var currentFiles: Seq[String] = initialFiles
  @volatile private var inner: org.apache.spark.sql.connector.read.Scan =
    buildInner(initialFiles)

  private def buildInner(files: Seq[String]): org.apache.spark.sql.connector.read.Scan = {
    val pt = ParquetTable(tableName, SparkSession.active, CaseInsensitiveStringMap.empty(),
      files.map(f => s"$root/$f"), Some(tableSchema), classOf[ParquetFileFormat])
    val b = pt.newScanBuilder(options)
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScanBuilder]
    // replay the full pushdown into the delegated parquet builder: the
    // surviving files keep row-group skipping and column pruning
    b.pushFilters(pushed): Unit
    b.pruneColumns(required)
    b.build()
  }

  override def filterAttributes(): Array[NamedReference] =
    (statsByCol.map(_._1) ++ bloomByCol.map(_._1)).distinct
      .map(Expressions.column).toArray

  /** Translate the runtime predicates Spark delivers (IN / = on a
    * stats column, values from the executed build side) into v1 filters
    * and re-prune the bound file list — each predicate prunes with its
    * own column's sidecar. Untranslatable predicates are ignored — the
    * scan stays correct, just unpruned.
    */
  override def filter(predicates: Array[Predicate]): Unit = {
    val byCol: Seq[(String, org.apache.spark.sql.sources.Filter)] = predicates.toSeq.flatMap { p =>
      (p.name(), p.children()) match {
        case ("IN", children) if children.nonEmpty &&
            children.tail.forall(_.isInstanceOf[LitV]) =>
          statsCol(children.head).map(c => c -> org.apache.spark.sql.sources.In(c,
            children.tail.map(_.asInstanceOf[LitV].value().asInstanceOf[Any]).toArray))
        case ("=", Array(e, l: LitV)) =>
          statsCol(e).map(c => c -> org.apache.spark.sql.sources.EqualTo(c, l.value()))
        case _ => None
      }
    }
    if (byCol.nonEmpty) {
      val kept = byCol.foldLeft(currentFiles) { case (files, (c, f)) =>
        val zoned = statsByCol.find(_._1 == c).map(_._2) match {
          case Some(stats) => ZoneMap.prune(stats, c, Seq(f), files)
          case None => files
        }
        bloomByCol.find(_._1 == c).map(_._2) match {
          case Some(blooms) if tableSchema.fieldNames.contains(c) =>
            BloomMap.prune(blooms, c, tableSchema(c).dataType, Seq(f), zoned)
          case _ => zoned
        }
      }
      ZoneMapRuntimeScan.lastRuntimePrune = (currentFiles.size, kept.size)
      if (kept.size < currentFiles.size) {
        currentFiles = kept
        inner = buildInner(kept)
      }
    }
  }

  /** The stats/bloom column `e` names, if any. */
  private def statsCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames().length == 1 &&
          (statsByCol.exists(_._1 == nr.fieldNames()(0)) ||
            bloomByCol.exists(_._1 == nr.fieldNames()(0))) =>
        Some(nr.fieldNames()(0))
      case _ => None
    }

  override def readSchema(): StructType = inner.readSchema()
  override def toBatch: org.apache.spark.sql.connector.read.Batch = inner.toBatch
  override def description(): String =
    s"GraftZoneMapScan(files=${currentFiles.size}) " + inner.description()

  /** NATIVE CBO STATISTICS (VERDICT r10 #4): row counts from parquet
    * footers (memoized driver metadata — the same cost class as scan
    * planning) and per-column min/max/NDV from the zone-map sidecars,
    * surfaced through the DSv2 stats API so `DataSourceV2Relation
    * .transformV2Stats` hands the optimizer real `rowCount` +
    * `attributeStats` WITHOUT any external ANALYZE table: join reorder
    * and build-side choice work on `graft_vt` tables natively. The NDV
    * is the span estimate `min(rows, max−min+1)` — exact for the dense
    * surrogate keys zone maps are built on, an upper bound otherwise
    * (CBO treats NDV as an estimate by contract). Stats reflect the
    * CURRENT (runtime-pruned) file list.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val files = currentFiles
    val rows = files.map(f => GraftVtMetaTable.footerRows(s"$root/$f")).sum
    val bytes = files.map(f => new java.io.File(s"$root/$f").length()).sum
    val colStats = new java.util.HashMap[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    statsByCol.foreach { case (c, perFile) =>
      val present = files.flatMap(perFile.get).filter { case (lo, hi) => lo <= hi }
      // min/max must be CATALYST-INTERNAL values of the column's own
      // type (the sidecar stores widened longs)
      val box: Option[Long => Object] = tableSchema.fields.find(_.name == c)
        .map(_.dataType).collect {
          case org.apache.spark.sql.types.LongType => (v: Long) => Long.box(v)
          case org.apache.spark.sql.types.IntegerType => (v: Long) => Int.box(v.toInt)
          case org.apache.spark.sql.types.ShortType => (v: Long) => Short.box(v.toShort)
        }
      if (present.nonEmpty && files.forall(perFile.contains) && box.isDefined) {
        val lo = present.map(_._1).min
        val hi = present.map(_._2).max
        val ndv = math.min(rows, hi - lo + 1).max(0L)
        colStats.put(Expressions.column(c),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(ndv)
            override def min(): java.util.Optional[Object] =
              java.util.Optional.of(box.get(lo))
            override def max(): java.util.Optional[Object] =
              java.util.Optional.of(box.get(hi))
          })
      }
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }
}

object ZoneMapRuntimeScan {
  /** (files before, files after) of the last runtime prune — spec hook. */
  @volatile var lastRuntimePrune: (Int, Int) = (0, 0)
}

/** Logical↔physical name translation around any delegate scan builder —
  * the read half of metadata-only RENAME COLUMN. Required columns and
  * pushed filters are translated LOGICAL→PHYSICAL on the way into the
  * delegate (so parquet's by-name column matching, row-group skipping,
  * and zone-map pruning all see the names files actually store), and
  * the built scan's readSchema is relabeled PHYSICAL→LOGICAL on the way
  * out (rows are positional; only labels change — zero per-row cost).
  * Every filter is reported residual, so translation can never change
  * results; the delegate still gets the full pushdown for speed.
  */
/** Partition-spec history for unit-partitioned tables: append-only
  * `since_version unit` lines in the root's `_partspec.txt`; the ACTIVE
  * spec is the last line. The `since` boundary records which commits
  * each spec governs — the same versioned-validity design as
  * `rebucket`'s [[VtTableMeta.bucketSince]], except no rewrite ever
  * happens: old files keep their granularity and prune through the
  * same zone maps as new ones.
  */
private[sources] object VtPartSpec {
  private def path(root: String) = java.nio.file.Paths.get(s"$root/_partspec.txt")

  /** (since_version, unit) lines, oldest first. */
  def history(root: String): Seq[(Int, Long)] =
    if (!java.nio.file.Files.exists(path(root))) Nil
    else java.nio.file.Files.readString(path(root)).split("\n").toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(s, u) = l.split(" ", 2); (s.toInt, u.toLong)
      }

  def active(root: String): Option[Long] = history(root).lastOption.map(_._2)

  def append(root: String, since: Int, unit: Long): Unit =
    java.nio.file.Files.writeString(path(root), s"$since $unit\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND): Unit
}

private[sources] class ColMapScanBuilder(delegate: ScanBuilder, l2p: Map[String, String])
  extends ScanBuilder
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}

  private val p2l = l2p.map(_.swap)

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    delegate match {
      case d: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        d.pushFilters(filters.map(_.transform {
          case a: AttributeReference if l2p.contains(a.name) => a.withName(l2p(a.name))
        })): Unit
      case _ => ()
    }
    filters // ALL residual — the rename veneer is never a correctness contract
  }
  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty
  override def pruneColumns(s: StructType): Unit = delegate match {
    case d: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
      d.pruneColumns(StructType(s.fields.map(f =>
        f.copy(name = l2p.getOrElse(f.name, f.name)))))
    case _ => ()
  }
  override def build(): org.apache.spark.sql.connector.read.Scan =
    new RelabeledScan(delegate.build(), p2l)
}

/** A delegate scan whose readSchema is relabeled physical→logical.
  * Statistics pass through so join-size estimation (broadcast choice)
  * is unaffected by the rename veneer.
  */
private[sources] class RelabeledScan(delegate: org.apache.spark.sql.connector.read.Scan,
    p2l: Map[String, String])
  extends org.apache.spark.sql.connector.read.Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType =
    StructType(delegate.readSchema().fields.map(f =>
      f.copy(name = p2l.getOrElse(f.name, f.name))))
  override def toBatch: org.apache.spark.sql.connector.read.Batch = delegate.toBatch
  override def description(): String = delegate.description()
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    delegate match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
      }
    }
}

/** Group-based (copy-on-write) row-level operation, NARROWED to the
  * affected files: the scan binds only files the command's condition
  * may touch ([[GraftVtRowLevelScanBuilder]] decides via zone maps on
  * clustered tables; everything, conservatively, otherwise), the write
  * lands the replacement rows as new files, and the commit RETAINS the
  * skipped files by reference — the write replaces exactly the files
  * the scan read ([[boundFiles]] is that contract). Spark's rewrite
  * rules own the plan in between (the join for MERGE, the conditional
  * projection for UPDATE, the filter for DELETE). A selective
  * key-range UPDATE on a clustered 100 TB table rewrites O(matching
  * files), not the table.
  */
class GraftVtRowLevelOperation(table: GraftVtTable, cmd: RowLevelOperation.Command,
    branch: Option[String] = None)
  extends RowLevelOperation {

  /** Files the rewrite's scan bound (root-relative); the commit
    * replaces exactly these. None = no scan built yet; defaults to
    * every file (full rewrite) if the write somehow commits first.
    */
  @volatile private[sources] var boundFiles: Option[Seq[String]] = None

  /** The snapshot this operation rewrites: the branch head's file list
    * when branch-pinned, the main head's otherwise.
    */
  private[sources] def allLeafFiles: Seq[String] = branch match {
    case Some(b) => VtBranch.entries(table.root, b)
      .flatMap(ZoneMap.leafFiles(table.root, _))
    case None => VersionedTable.manifest(table.root, table.currentVersion)
      .flatMap(ZoneMap.leafFiles(table.root, _))
  }

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // branch snapshots carry no zone-map sidecar (sidecars are keyed by
    // main versions), so the branch rewrite binds every branch file —
    // conservative, never wrong; main rewrites keep file narrowing
    val inner = new GraftVtRowLevelScanBuilder(this, table, table.currentVersion,
      options, branchFiles = branch.map(b => () => allLeafFiles))
    if (table.meta.colMap.isEmpty) inner else new ColMapScanBuilder(inner, table.meta.colMap)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = branch match {
        case Some(b) =>
          // REWRITE commit: pin the head this op planned against — a
          // rival that fully won (manifest + ref) between our plan and
          // commit must fail us LOUDLY, not let a stale-baseline rewrite
          // land as head+2 (the MOR delta path prechecks identically)
          val expectedHead = VtBranch.ref(table.root, b).head
          new GraftVtWrite(table.root, expectedHead + 1,
            table.meta.physify(info.schema()),
            () => {
              val replaced = boundFiles.getOrElse(allLeafFiles).toSet
              allLeafFiles.filterNot(replaced)
            },
            // no cluster ordering on branch commits: sidecars are
            // main-version-keyed (OPTIMIZE after fast-forward restores)
            cluster = None, desc = s"graft_vt branch COW ${cmd.name()} ($b)",
            bucketRoute = None, check = table.boundCheck,
            branchCommit = Some((b, entries => {
              VtBranch.commitEntriesAt(table.root, b, expectedHead, entries): Unit
            })))
        case None =>
          new GraftVtWrite(table.root,
            table.currentVersion + 1, table.meta.physify(info.schema()),
            // evaluated at COMMIT time: retained files = snapshot − replaced
            () => {
              val replaced = boundFiles.getOrElse(allLeafFiles).toSet
              allLeafFiles.filterNot(replaced)
            },
            table.meta.clusterCol, s"graft_vt COW ${cmd.name()}", table.meta.bucket,
            table.boundCheck)
      }
    }
}

/** Scan builder for the group-based COW rewrite. Spark pushes the
  * command's CONDITION here with GROUP semantics — "skip whole groups
  * that provably contain no matching row, but return EVERY row of any
  * group you bind" — which a raw parquet builder violates: parquet
  * row-group skipping drops exactly the non-matching rows the rewrite
  * must carry forward (a DELETE's keepers), silently losing data for
  * any source-translatable predicate. This builder therefore NEVER
  * forwards the condition to parquet as a row filter; it uses it only
  * to narrow WHICH FILES the rewrite binds, via the zone-map sidecar
  * on clustered tables (missing sidecar, unclustered tables, or
  * untranslatable predicates bind everything — conservative, never
  * wrong). Column pruning still reaches parquet.
  */
class GraftVtRowLevelScanBuilder(op: GraftVtRowLevelOperation, table: GraftVtTable,
    version: Int, options: CaseInsensitiveStringMap,
    branchFiles: Option[() => Seq[String]] = None)
  extends ScanBuilder
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  import org.apache.spark.sql.catalyst.expressions.Expression

  private val physSchema = table.meta.physify(table.schema())
  private var pushed: Seq[Expression] = Nil
  private var required: StructType = physSchema

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushed = filters
    filters // ALL residual — group semantics forbid row-level filtering here
  }
  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty
  override def pruneColumns(s: StructType): Unit = required = s

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    val all = branchFiles.map(_()).getOrElse(
      VersionedTable.manifest(table.root, version)
        .flatMap(ZoneMap.leafFiles(table.root, _)))
    // a branch snapshot has no sidecar — bind everything (conservative)
    val bound = (for {
      _ <- Option.when(branchFiles.isEmpty)(())
      zc <- table.meta.clusterCol
      stats <- ZoneMap.read(table.root, version, zc)
    } yield ZoneMap.prune(stats, zc, pushed.flatMap(ZoneMap.toV1Filter), all))
      .getOrElse(all)
    op.boundFiles = Some(bound)
    val pt = ParquetTable(table.name(), SparkSession.active,
      CaseInsensitiveStringMap.empty(), bound.map(f => s"${table.root}/$f"),
      Some(physSchema), classOf[ParquetFileFormat])
    val b = pt.newScanBuilder(options)
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScanBuilder]
    b.pruneColumns(required)
    b.build()
  }
}

/** The physical write contract shared by INSERT and the COW DML verbs.
  * A clustered table asks the planner for an ORDERED distribution on the
  * cluster column (a range shuffle + in-partition sort), so each task
  * writes a DISJOINT key range — that is what makes the per-file
  * [min, max] stats the writers report actually selective: sorted
  * output → non-overlapping zone maps → a key-range scan later prunes
  * to O(matching files). Non-strict: at 100 TB AQE may rebalance the
  * ranges, and an unclustered table imposes nothing.
  */
class GraftVtWrite(root: String, newVersion: Int, schema: StructType,
    baseEntries: () => Seq[String], cluster: Option[String], desc: String,
    bucketRoute: Option[(String, Int)] = None,
    check: Option[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = None,
    branchCommit: Option[(String, Seq[String] => Unit)] = None,
    partUnit: Option[Long] = None)
  extends Write with RequiresDistributionAndOrdering {

  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  // a cluster column absent from this write's schema (never the case for
  // our own registrations, but cheap to guard) degrades to unclustered
  private val effective = cluster.filter(schema.fieldNames.contains)
  private val effBucket = bucketRoute.filter { case (k, _) => schema.fieldNames.contains(k) }

  private def order: Array[SortOrder] = effective.map(c =>
    Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray

  /** Clustered tables ask for an ORDERED distribution (disjoint key
    * ranges per file → selective zone maps); bucketed tables ask for a
    * CLUSTERED distribution on the bucket transform (one file per
    * bucket instead of per task×bucket). Both non-strict: the routing
    * writer is correct under ANY distribution, the request only shapes
    * file counts.
    */
  override def requiredDistribution(): Distribution =
    if (effective.isDefined) Distributions.ordered(order)
    else effBucket.map { case (k, n) =>
      Distributions.clustered(Array(Expressions.bucket(n, k)))
    }.getOrElse(Distributions.unspecified())
  override def distributionStrictlyRequired(): Boolean = false
  override def requiredOrdering(): Array[SortOrder] = order

  override def toBatch: BatchWrite = new GraftVtBatchWrite(root, newVersion,
    schema, baseEntries, effective.map(c => (c, schema.fieldIndex(c))),
    effBucket.map { case (k, n) => VtRoute(schema.fieldIndex(k), bucketed = true, n) }
      // partition-unit routing needs the cluster ordinal (the time column)
      .orElse(partUnit.flatMap(u =>
        effective.map(c => VtRoute(schema.fieldIndex(c), bucketed = false, u)))),
    check, branchCommit)
  override def description(): String = desc
}

/** Distributed parquet write of the replacement rows + one-line manifest
  * commit. Executor tasks write directly to uniquely-named final files
  * (no rename-based committer needed: the manifest lists the EXACT files
  * that committed, so a straggler's orphan output is never read), and
  * the driver-side `commit` records them as version `newVersion`.
  */
class GraftVtBatchWrite(root: String, newVersion: Int, schema: StructType,
    baseEntries: () => Seq[String], cluster: Option[(String, Int)] = None,
    route: Option[VtRoute] = None,
    check: Option[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = None,
    branchCommit: Option[(String, Seq[String] => Unit)] = None)
  extends BatchWrite {

  // a BRANCH write lands its group under a branch-scoped, uniquified
  // name (a dropped-and-recreated branch must never write into a stale
  // group dir) and commits through the branch's own manifest line
  // instead of the main version line
  private val groupRel = branchCommit.fold(s"files/dml_v$newVersion") { case (b, _) =>
    s"files/br_${b}_v${newVersion}_${java.util.UUID.randomUUID().toString.take(8)}"
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // locals only: the factory ships to executors without this BatchWrite
    val (files, width) = (VtTaskFiles.prepare(root, groupRel, schema), schema.length)
    val (clusterIdx, rt, chk) = (cluster.map(_._2), route, check)
    (partitionId: Int, taskId: Long) =>
      new GraftVtDataWriter(files, partitionId, taskId, width, clusterIdx, rt, chk)
  }

  private def written(messages: Array[WriterCommitMessage]): Seq[VtFile] =
    messages.toSeq.flatMap {
      case m: GraftVtCommitMessage => m.files
      case _ => Nil
    }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // the task writer opens a file only for a row, so every written
    // file is non-empty and named by the manifest
    val kept = written(messages)
    // retained-by-reference entries, resolved NOW: for a narrowed COW
    // rewrite this is "current snapshot minus the files the scan bound"
    val baseEnt = baseEntries()
    // a branch write commits through the branch's own manifest line
    // (one-winner inside VtBranch.commitEntries) and skips main-line
    // concerns: no zone-map sidecar (sidecars are keyed by MAIN version
    // numbers) and no main retention pass
    if (branchCommit.isDefined) {
      try branchCommit.get._2(baseEnt ++ kept.map(_.relPath))
      catch { case e: java.util.ConcurrentModificationException =>
        abort(messages); throw e
      }
      return
    }
    // commit = atomically CREATE the next manifest naming exactly the
    // files that reported success (empty-result DML still commits a
    // valid, empty version by naming no files). The one-winner write is
    // the optimistic-concurrency check: two writers that both planned
    // against version N race to create N+1, exactly one wins, and the
    // loser aborts with a conflict instead of silently overwriting the
    // winner's commit — its files are cleaned by abort(), and the
    // caller re-runs against the new snapshot (the standard
    // table-format retry contract).
    try VersionedTable.commitManifest(root, newVersion, (baseEnt ++ kept.map(_.relPath)).sorted)
    catch { case e: java.util.ConcurrentModificationException =>
      abort(messages); throw e
    }
    // clustered tables get the new version's zone-map sidecar for free:
    // each writer reported its files' [min, max] in the commit message,
    // and prior entries carry over ONLY for files this manifest still
    // references (appends and retained-by-narrowing files); a full COW
    // rewrite starts a clean sidecar
    cluster.foreach { case (zc, _) =>
      val baseFiles = baseEnt.flatMap(ZoneMap.leafFiles(root, _)).toSet
      VersionedTable.carryZoneMap(root, newVersion - 1, newVersion, zc, baseFiles, kept)
    }
    // Retention: every COW DML rewrites the WHOLE table, so unreferenced
    // old groups grow linearly with statements (one full copy per bench
    // rep). Cap retained versions at the last two — one step of VERSION
    // AS OF stays queryable, disk stays bounded. Safe here because the
    // write job that read the prior version has fully consumed its scan
    // before commit() runs; a production multi-reader deployment would
    // widen this to a time-based retention window (the vacuum primitive
    // takes any keep-set).
    val keep = (math.max(1, newVersion - 1) to newVersion).toSeq
    VersionedTable.vacuum(root, keep): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    written(messages).foreach(m => new java.io.File(s"$root/${m.relPath}").delete(): Unit)
}

/** One written file: its root-relative path, its row count and, on a
  * clustered table, the cluster column's min, max and null count.
  * zMin > zMax (the defaults) means "no cluster stats for this file" —
  * either the table is unclustered or the file saw only null keys.
  */
case class VtFile(relPath: String, rows: Long,
    zMin: Long = Long.MaxValue, zMax: Long = Long.MinValue, zNulls: Long = 0L)

/** One task's output: the files it wrote, in route order. */
case class GraftVtCommitMessage(files: Seq[VtFile]) extends WriterCommitMessage

/** A write's task-side parquet files under one group dir. Spark's own
  * parquet write support is configured on the driver exactly as a
  * native parquet write would be (compression, timestamp rebase, legacy
  * format flags all land on the job conf), and the conf ships to
  * executors as a plain entry list, so this works identically on a
  * real cluster where executors never saw the driver's conf. Executor
  * tasks write directly to uniquely-named final files — no
  * rename-based committer is needed: the manifest lists the EXACT files
  * that committed, so a straggler's orphan output is never read.
  */
private[sources] class VtTaskFiles(groupDir: String, groupRel: String, schema: StructType,
    owf: OutputWriterFactory, confEntries: Array[(String, String)]) extends Serializable {

  /** Open task file `[<route>/]part-<partition>-<task>.parquet` under
    * the group dir (`route` empty = the group dir itself); returns the
    * writer and the file's root-relative path.
    */
  def open(partitionId: Int, taskId: Long, route: String)
      : (org.apache.spark.sql.execution.datasources.OutputWriter, String) = {
    val conf = new Configuration(false)
    confEntries.foreach { case (k, v) => conf.set(k, v) }
    val ctx = new TaskAttemptContextImpl(conf, new TaskAttemptID(
      new TaskID(new JobID("graft_vt", 0), TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt))
    val name = (if (route.isEmpty) "" else s"$route/") +
      f"part-$partitionId%05d-$taskId.parquet"
    (owf.newInstance(s"$groupDir/$name", schema, ctx), s"$groupRel/$name")
  }

  /** Delete a file [[open]] returned (a task abort). */
  def delete(relPath: String): Unit =
    new java.io.File(s"$groupDir/${relPath.stripPrefix(groupRel + "/")}").delete(): Unit
}

private[sources] object VtTaskFiles {
  /** Create group dir `groupRel` under `root` and configure its parquet
    * writes on the driver.
    */
  def prepare(root: String, groupRel: String, schema: StructType): VtTaskFiles = {
    val spark = SparkSession.active
    new java.io.File(s"$root/$groupRel").mkdirs()
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = new ParquetFileFormat().prepareWrite(
      spark, job, Map.empty[String, String], schema)
    val confEntries = job.getConfiguration.iterator().asScala
      .map(e => (e.getKey, e.getValue)).toArray
    new VtTaskFiles(s"$root/$groupRel", groupRel, schema, owf, confEntries)
  }
}

/** Where a written row's file lives under the write's group dir, by
  * its BIGINT key at `keyIdx`: `b=<bucket>` on a BUCKETED table (the
  * write half of the storage-partitioned-join layout, `width` buckets),
  * `u=<floorDiv(key, width)>` on a UNIT-PARTITIONED one — the write half
  * of partition-spec evolution. Each unit file's rows fall inside one
  * unit, so its zone-map entry is at most one unit wide, which is what
  * lets a time-range scan over a MIXED-granularity table (old day files
  * + new hour files) prune each generation at its own granularity with
  * the one sidecar mechanism (Iceberg evolves specs the same way:
  * per-file partition metadata, readers prune file-by-file). A null key
  * is a loud error: it is the layout's identity.
  */
private[sources] case class VtRoute(keyIdx: Int, bucketed: Boolean, width: Long) {
  def of(key: Long): Long =
    if (bucketed) VtBucket.bucketOf(key, width.toInt).toLong else Math.floorDiv(key, width)
  def dir(value: Long): String = (if (bucketed) "b=" else "u=") + value
  def nullKey: String =
    if (bucketed) s"null bucket key (field $keyIdx) on a bucketed table"
    else s"null partition key (field $keyIdx) on a unit-partitioned table"
}

/** The task side of every copy-on-write and append write: one parquet
  * file per route value the task actually sees (see [[VtRoute]]; the
  * group dir itself when the table has no route), opened lazily, so a
  * task that sees no rows writes no file. Each row is realigned past a
  * leading `__row_operation` column (see [[OpShiftedRow]]) and checked
  * against the table's CHECK constraint before it is written: a
  * violation fails the task, the write aborts and no manifest commits.
  * Per file the writer counts rows and, on a clustered table, tracks the
  * cluster column's min, max and nulls — zone-map stats for free, one
  * comparison per row, no second pass over the data.
  *
  * Under the distribution the plan requests (ordered for clustered
  * tables, clustered by bucket for bucketed ones) each task sees one
  * key range or bucket and writes few files; under any other
  * distribution correctness is identical, only file counts grow (the
  * optimize verb compacts).
  */
private[sources] class GraftVtDataWriter(files: VtTaskFiles, partitionId: Int, taskId: Long,
    width: Int, clusterIdx: Option[Int], route: Option[VtRoute],
    check: Option[(String, org.apache.spark.sql.catalyst.expressions.Expression)])
  extends DataWriter[InternalRow] {

  private final class Out(val w: org.apache.spark.sql.execution.datasources.OutputWriter,
      val rel: String) {
    var rows = 0L
    var zMin = Long.MaxValue
    var zMax = Long.MinValue
    var zNulls = 0L
  }
  private val outs = scala.collection.mutable.Map.empty[Long, Out]
  // -1 = undetermined; fixed by the first record's arity. 0 when the
  // incoming rows already match the data schema, 1 when Spark's
  // row-level rewrite left the leading __row_operation column in place
  // (see OpShiftedRow) — any other shape is a real bug and fails loudly
  // rather than writing misaligned columns.
  private var offset = -1
  private var shifted: OpShiftedRow = _
  private lazy val checkPred = check.map { case (sql, e) =>
    (sql, org.apache.spark.sql.catalyst.expressions.Predicate.create(e))
  }

  override def write(record: InternalRow): Unit = {
    if (offset < 0) {
      offset = record.numFields - width
      require(offset == 0 || offset == 1,
        s"row arity ${record.numFields} does not match write schema " +
          s"$width (+ optional __row_operation)")
      if (offset == 1) shifted = new OpShiftedRow(1)
    }
    val aligned = if (offset == 0) record else shifted.set(record)
    checkPred.foreach { case (sql, p) =>
      if (!p.eval(aligned)) throw new IllegalArgumentException(
        s"CHECK constraint violated by a written row: $sql")
    }
    val key = route.fold(0L) { r =>
      require(!aligned.isNullAt(r.keyIdx), r.nullKey)
      r.of(aligned.getLong(r.keyIdx))
    }
    val out = outs.getOrElseUpdate(key, {
      val (w, rel) = files.open(partitionId, taskId, route.fold("")(_.dir(key)))
      new Out(w, rel)
    })
    clusterIdx.foreach { i =>
      if (aligned.isNullAt(i)) out.zNulls += 1
      else {
        val v = aligned.getLong(i)
        if (v < out.zMin) out.zMin = v
        if (v > out.zMax) out.zMax = v
      }
    }
    out.w.write(aligned)
    out.rows += 1
  }

  override def commit(): WriterCommitMessage = {
    outs.values.foreach(_.w.close())
    GraftVtCommitMessage(outs.toSeq.sortBy(_._1).map { case (_, o) =>
      VtFile(o.rel, o.rows, o.zMin, o.zMax, o.zNulls)
    })
  }

  override def abort(): Unit = outs.values.foreach { o =>
    o.w.close()
    files.delete(o.rel)
  }

  override def close(): Unit = ()
}

/** View of an incoming row with its first `offset` fields hidden.
  *
  * Spark's group-based row-level rewrites (RewriteMergeIntoTable /
  * RewriteUpdateTable / RewriteDeleteFromTable) prepend an int
  * `__row_operation` column to every replacement row, and
  * `ReplaceDataExec.writingTask` only strips it (via
  * `ReplaceDataProjections.rowProjection`) when the operation also
  * requested metadata columns — with `requiredMetadataAttributes()`
  * empty it falls back to the plain `DataWritingSparkTask`, which hands
  * the writer the RAW row: `[__row_operation, data...]` against a
  * data-only `info.schema()`. This wrapper realigns ordinals without
  * copying — zero allocation per row beyond the single wrapper.
  */
private[sources] final class OpShiftedRow(offset: Int) extends InternalRow {
  private var row: InternalRow = _
  def set(r: InternalRow): InternalRow = { row = r; this }
  override def numFields: Int = row.numFields - offset
  override def setNullAt(i: Int): Unit = row.setNullAt(i + offset)
  override def update(i: Int, v: Any): Unit = row.update(i + offset, v)
  override def copy(): InternalRow = {
    val c = new OpShiftedRow(offset); c.row = row.copy(); c
  }
  override def isNullAt(i: Int): Boolean = row.isNullAt(i + offset)
  override def getBoolean(i: Int): Boolean = row.getBoolean(i + offset)
  override def getByte(i: Int): Byte = row.getByte(i + offset)
  override def getShort(i: Int): Short = row.getShort(i + offset)
  override def getInt(i: Int): Int = row.getInt(i + offset)
  override def getLong(i: Int): Long = row.getLong(i + offset)
  override def getFloat(i: Int): Float = row.getFloat(i + offset)
  override def getDouble(i: Int): Double = row.getDouble(i + offset)
  override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
    row.getDecimal(i + offset, p, s)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    row.getUTF8String(i + offset)
  override def getBinary(i: Int): Array[Byte] = row.getBinary(i + offset)
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    row.getGeography(i + offset)
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    row.getGeometry(i + offset)
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    row.getInterval(i + offset)
  override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal =
    row.getVariant(i + offset)
  override def getStruct(i: Int, n: Int): InternalRow = row.getStruct(i + offset, n)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    row.getArray(i + offset)
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    row.getMap(i + offset)
  override def get(i: Int, dt: org.apache.spark.sql.types.DataType): AnyRef =
    row.get(i + offset, dt)
}

