package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SQL-queryable METADATA TABLES over a versioned table — the
  * Iceberg-style `table.history` / `table.files` / `table.tags`
  * inspection surface, resolved through the ordinary catalog path:
  *
  *   - `SELECT * FROM graft_vt.t.history`  — one row per committed
  *     version: commit instant, group/file counts, bytes, rows.
  *   - `SELECT * FROM graft_vt.t.files`    — one row per data file of
  *     the CURRENT (or `VERSION AS OF`-pinned) snapshot, with size,
  *     row count, and the zone-map [min, max] when the table is
  *     clustered.
  *   - `SELECT * FROM graft_vt.t.tags`     — named version pointers.
  *
  * All three are DRIVER METADATA, not data: rows() lists manifests and
  * reads parquet FOOTERS (never pages), so cost scales with file count
  * — the same class as scan planning. They surface as [[LocalScan]]s,
  * which Spark plans as a LocalTableScan: zero jobs. At 100 TB a
  * production format would serve row counts straight from manifest
  * stats instead of footers (our DML writers already report per-file
  * rows in their commit messages); the footer read is the universal
  * fallback that also covers externally-written fixture groups.
  */
class GraftVtMetaTable private[sources] (baseName: String, meta: VtTableMeta,
    kind: String, pinnedVersion: Option[Int])
  extends Table with SupportsRead {

  override def name(): String = s"graft_vt.$baseName.$kind"
  override def schema(): StructType = GraftVtMetaTable.schemaOf(kind)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = schema()
        override def rows(): Array[InternalRow] =
          GraftVtMetaTable.rowsOf(kind, meta.root, meta.clusterCol, pinnedVersion)
      }
    }
}

object GraftVtMetaTable {

  /** The metadata-table suffixes [[GraftVtCatalog]] resolves. */
  val kinds: Set[String] = Set("history", "files", "tags", "branches")

  def schemaOf(kind: String): StructType = kind match {
    case "history" => StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("n_groups", IntegerType, nullable = false),
      StructField("n_files", IntegerType, nullable = false),
      StructField("total_bytes", LongType, nullable = false),
      StructField("total_rows", LongType, nullable = false)))
    case "files" => StructType(Seq(
      StructField("group_path", StringType, nullable = false),
      StructField("file_path", StringType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      StructField("row_count", LongType, nullable = false),
      StructField("zmin", LongType, nullable = true),
      StructField("zmax", LongType, nullable = true)))
    case "tags" => StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false)))
    case "branches" => StructType(Seq(
      StructField("branch", StringType, nullable = false),
      StructField("fork_version", IntegerType, nullable = false),
      StructField("head_commits", IntegerType, nullable = false),
      StructField("n_files", IntegerType, nullable = false)))
    case other => throw new IllegalArgumentException(s"no such metadata table: $other")
  }

  /** Row count from the parquet FOOTER — a metadata read (tail of the
    * file), no page decode; one per file, memoized per (path, mtime,
    * size) so repeated metadata queries over an immutable snapshot
    * list directories instead of re-reading footers.
    */
  private val footerCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Long]

  private[sources] def footerRows(absPath: String): Long = {
    val f = new java.io.File(absPath)
    footerCache.getOrElseUpdate((absPath, f.lastModified(), f.length()), {
      val conf = SparkSession.active.sessionState.newHadoopConf()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(absPath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    })
  }

  private def groupOf(entry: String): String = entry.split("/").take(2).mkString("/")

  def rowsOf(kind: String, root: String, clusterCol: Option[String],
      pinned: Option[Int]): Array[InternalRow] = kind match {

    case "history" =>
      VersionedTable.versionCommitMicros(root).map { case (v, us) =>
        val entries = VersionedTable.manifest(root, v)
        val files = entries.flatMap(ZoneMap.leafFiles(root, _))
        val abs = files.map(f => s"$root/$f")
        new GenericInternalRow(Array[Any](
          v, us, entries.map(groupOf).distinct.size, files.size,
          abs.map(new java.io.File(_).length()).sum,
          abs.map(footerRows).sum)): InternalRow
      }.toArray

    case "files" =>
      val v = pinned.getOrElse(VersionedTable.latestVersion(root))
      val zstats = clusterCol
        .flatMap(zc => ZoneMap.read(root, v, zc)).getOrElse(Map.empty)
      VersionedTable.manifest(root, v).flatMap { entry =>
        ZoneMap.leafFiles(root, entry).map { f =>
          val (zmin, zmax) = zstats.get(f) match {
            case Some((lo, hi)) if lo <= hi => (lo: Any, hi: Any)
            case _ => (null, null)
          }
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(groupOf(entry)), UTF8String.fromString(f),
            new java.io.File(s"$root/$f").length(), footerRows(s"$root/$f"),
            zmin, zmax)): InternalRow
        }
      }.toArray

    case "tags" =>
      Option(new java.io.File(root).list()).getOrElse(Array.empty[String])
        .collect { case n if n.startsWith("_ref_") && n.endsWith(".txt") =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(n.stripPrefix("_ref_").stripSuffix(".txt")),
            GraftVtTable.resolveTag(root,
              n.stripPrefix("_ref_").stripSuffix(".txt")))): InternalRow
        }.sortBy(_.getUTF8String(0).toString)

    // live branches with their fork point, commit count, and head file
    // count — the SHOW BRANCHES surface, same driver-metadata cost
    // class as .tags (ref reads + one manifest listing per branch)
    case "branches" =>
      VtBranch.list(root).map { case (name, r) =>
        val nFiles = VtBranch.entries(root, name)
          .flatMap(ZoneMap.leafFiles(root, _)).size
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(name), r.fork, r.head, nFiles)): InternalRow
      }.toArray

    case other => throw new IllegalArgumentException(s"no such metadata table: $other")
  }
}
