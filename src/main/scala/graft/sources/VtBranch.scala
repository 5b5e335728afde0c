package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** BRANCHES on the versioned table format — Iceberg-style refs with an
  * independent commit line (ref: "Branching and Tagging" in the Iceberg
  * spec; the reference pipeline has no table format at all, so this tier
  * is declared by BASELINE.json's north star, not ported). A branch is a
  * named fork of the table at a version: writes to the branch commit
  * branch-local manifests (`_manifest_b_<name>_v<k>.txt`) that are
  * INVISIBLE to main readers — [[VersionedTable.latestVersion]] only
  * sees the numeric version line — and a FAST-FORWARD merge promotes
  * the branch's commits onto main iff main has not moved since the fork
  * (the git fast-forward contract; a moved main fails loudly with
  * "rebase", never merges content).
  *
  * Why this is the 100 TB shape: branch commits reuse unchanged file
  * groups BY REFERENCE exactly like main commits (a branch is manifest
  * lines, not a table copy), so "stage a risky backfill on a branch,
  * audit it, fast-forward" costs the backfill's delta — the same
  * economics as WAP ([[VersionedTable.stage]]) but with a full multi-
  * commit lineage instead of a single staged version. All state lives in
  * the table root, so branches survive table RENAME (the root moves with
  * the catalog record) and die with DROP TABLE (the root is the
  * lifecycle) — no driver-side map to leak or orphan.
  */
object VtBranch {

  final case class Ref(fork: Int, head: Int)

  private def refPath(root: String, name: String) =
    java.nio.file.Paths.get(s"$root/_branch_$name.txt")

  def exists(root: String, name: String): Boolean =
    java.nio.file.Files.exists(refPath(root, name))

  def get(root: String, name: String): Option[Ref] =
    if (!exists(root, name)) None
    else {
      val kv = java.nio.file.Files.readString(refPath(root, name))
        .split("\n").map(_.trim).filter(_.nonEmpty)
        .map { l => val Array(k, v) = l.split("=", 2); (k, v.toInt) }.toMap
      Some(Ref(kv("fork"), kv("head")))
    }

  def ref(root: String, name: String): Ref =
    get(root, name).getOrElse(
      throw new IllegalArgumentException(s"no such branch: $name under $root"))

  private def writeRef(root: String, name: String, r: Ref): Unit =
    java.nio.file.Files.writeString(refPath(root, name),
      s"fork=${r.fork}\nhead=${r.head}\n"): Unit

  /** Create `name` forked at main's current head. The fork's file list
    * is SNAPSHOTTED into branch manifest v0, making the branch self-
    * contained: main retention can expire the fork version without
    * breaking branch reads (the branch's entries pin their groups
    * against [[VersionedTable.vacuum]]).
    */
  def create(root: String, name: String): Ref = {
    require(name.matches("[A-Za-z][A-Za-z0-9_-]*"), s"invalid branch name: $name")
    require(!exists(root, name), s"branch $name already exists under $root")
    val fork = VersionedTable.latestVersion(root)
    VersionedTable.createNew(VersionedTable.branchManifestPath(root, name, 0),
      VersionedTable.manifest(root, fork), s"branch $name of $root")
    // MOR tables: snapshot the fork's file-sequence + tombstone state
    // into branch meta v0, making the branch's merge-on-read reads
    // self-contained exactly like its file list
    VtMor.readMeta(root, fork).foreach(m => VtMor.writeBranchMeta(root, name, 0, m))
    val r = Ref(fork, 0)
    writeRef(root, name, r)
    r
  }

  /** The branch head's file entries (relative paths) — branch manifest
    * `head` (v0 = the fork snapshot).
    */
  def entries(root: String, name: String): Seq[String] =
    VersionedTable.entries(VersionedTable.branchManifestPath(root, name, ref(root, name).head))

  /** Commit a new branch head naming exactly `newEntries`. One-winner:
    * the branch manifest is CREATE_NEW, so two writers racing on the
    * same branch head conflict exactly like main commits do. This
    * overload re-reads the ref — correct for APPEND-shaped commits
    * whose entry list is resolved at commit time (order-commutative);
    * REWRITE-shaped commits must pin the head they planned against via
    * [[commitEntriesAt]] or a fully-finished rival would be silently
    * overwritten with stale rewrite baselines (lost update).
    */
  def commitEntries(root: String, name: String, newEntries: Seq[String]): Int =
    commitEntriesAt(root, name, ref(root, name).head, newEntries)

  /** [[commitEntries]] pinned to the head the writer PLANNED against:
    * if the branch moved past `expectedHead` — a rival staged against
    * the same head and fully won (manifest + ref) — the commit fails
    * LOUDLY instead of landing as head+2 with a stale baseline. The
    * CREATE_NEW manifest write still backs up the narrower race where
    * the rival claimed the manifest but hasn't advanced the ref yet.
    */
  def commitEntriesAt(root: String, name: String, expectedHead: Int,
      newEntries: Seq[String]): Int = {
    val r = ref(root, name)
    if (r.head != expectedHead)
      throw new java.util.ConcurrentModificationException(
        s"commit conflict: branch $name of $root moved from head " +
          s"$expectedHead to ${r.head} during this write; re-run the statement")
    val k = expectedHead + 1
    VersionedTable.createNew(VersionedTable.branchManifestPath(root, name, k),
      newEntries.sorted, s"branch $name head $k of $root")
    writeRef(root, name, r.copy(head = k))
    k
  }

  /** FAST-FORWARD merge: promote branch commits 1..head onto main as
    * versions fork+1..fork+head, then delete the branch. Requires main
    * still at the fork (the fast-forward precondition); each promotion
    * is an ordinary CREATE_NEW manifest commit, so a racing main writer
    * loses or wins per the standard one-winner protocol. Returns
    * (new main head, commits promoted). Promotion copies MANIFESTS,
    * never data — the branch's file groups become main's by reference.
    */
  def fastForward(root: String, name: String): (Int, Int) = {
    val r = ref(root, name)
    require(r.head > 0, s"branch $name has no commits to fast-forward")
    val mainHead = VersionedTable.latestVersion(root)
    require(mainHead == r.fork,
      s"main is at version $mainHead but branch $name forked at ${r.fork}; " +
        "fast-forward requires an unmoved main — rebase the branch")
    (1 to r.head).foreach { k =>
      VersionedTable.commitManifest(root, r.fork + k,
        VersionedTable.entries(VersionedTable.branchManifestPath(root, name, k)))
      // MOR: branch commit k carries sequence fork+k by construction,
      // so its meta promotes to main version fork+k as a pure copy
      VtMor.readBranchMeta(root, name, k)
        .foreach(m => VtMor.writeMeta(root, r.fork + k, m))
    }
    drop(root, name)
    (r.fork + r.head, r.head)
  }

  /** Delete the branch ref and its manifests. File groups only the
    * branch referenced become garbage and are collected by the next
    * [[VersionedTable.vacuum]] — dropping a ref is metadata-only,
    * exactly like dropping a version.
    */
  def drop(root: String, name: String): Unit = {
    val r = ref(root, name)
    (0 to r.head).foreach { k =>
      java.nio.file.Files.deleteIfExists(VersionedTable.branchManifestPath(root, name, k)): Unit
      java.nio.file.Files.deleteIfExists(
        VtMor.branchMetaPath(root, name, k)): Unit
    }
    java.nio.file.Files.delete(refPath(root, name))
  }

  /** All live branches under a root. */
  def list(root: String): Seq[(String, Ref)] =
    Option(new java.io.File(root).list()).getOrElse(Array.empty[String])
      .collect { case n if n.startsWith("_branch_") && n.endsWith(".txt") =>
        val name = n.stripPrefix("_branch_").stripSuffix(".txt")
        name -> ref(root, name)
      }.toSeq.sortBy(_._1)
}

/** The SQL face of one branch: `graft_vt.<table>.branch_<name>` (reads
  * and `INSERT INTO` / `INSERT OVERWRITE`), also reachable as
  * `graft_vt.<table> VERSION AS OF '<name>'` for reads. Scans delegate
  * to Spark's parquet DSv2 table over exactly the branch head's file
  * list — the same zero-custom-read-path economics as main time travel.
  * Writes run the ordinary [[GraftVtWrite]] distributed write but commit
  * through the branch's manifest line, so main readers never see them;
  * the table's CHECK constraint binds branch writers exactly like main
  * writers (a branch is staging, not a contract bypass).
  *
  * Row-level DML (MERGE/UPDATE/DELETE) runs through the same group-
  * based copy-on-write rewrite as main, with the operation PINNED to
  * the branch: the rewrite's scan binds the branch head's file list,
  * and the replacement rows commit as the next branch head — main
  * never sees intermediate states, and the whole edited lineage
  * promotes atomically-per-version on fast-forward.
  */
private[sources] class GraftVtBranchTable(baseName: String, branch: String,
    base: GraftVtTable)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  private val (root, tableSchema, morKey) = (base.root, base.meta.schema, base.meta.morKey)

  private def spark = SparkSession.active

  override def name(): String = s"graft_vt.$baseName.branch_$branch"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    val r = VtBranch.ref(root, branch)
    m.put("format", "graft_vt")
    m.put("branch", branch)
    m.put("fork_version", r.fork.toString)
    m.put("branch_head", r.head.toString)
    m
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // MOR branches merge the branch meta's tombstones — a raw-file read
    // would resurrect deleted rows
    morKey.foreach { k =>
      return new MorScanBuilder(root, tableSchema, k,
        version = 0 /* unused: branch meta binds the state */, Some(branch))
    }
    val paths = VtBranch.entries(root, branch).map(g => s"$root/$g")
    val inner = ParquetTable(name(), spark, CaseInsensitiveStringMap.empty(), paths,
      Some(base.meta.physify(tableSchema)), classOf[ParquetFileFormat])
      .newScanBuilder(options)
    if (base.meta.colMap.isEmpty) inner else new ColMapScanBuilder(inner, base.meta.colMap)
  }

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    morKey match {
      case Some(k) => () => new MorRowLevelOperation(base, info.command(), k, Some(branch))
      case None => () => new GraftVtRowLevelOperation(base, info.command(), Some(branch))
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // same refusal as main: a plain append can't stamp MOR sequences
    require(morKey.isEmpty,
      s"INSERT INTO merge-on-read branch $baseName@$branch is not supported; use MERGE")
    new WriteBuilder with SupportsTruncate {
      private var baseEntries: () => Seq[String] = () => VtBranch.entries(root, branch)
      override def truncate(): WriteBuilder = { baseEntries = () => Nil; this }
      override def build(): Write = {
        val nextK = VtBranch.ref(root, branch).head + 1
        new GraftVtWrite(root, nextK, base.meta.physify(info.schema()), baseEntries,
          // no cluster/bucket routing on a branch: layout sidecars are
          // keyed by MAIN versions; OPTIMIZE after fast-forward restores
          // the layout tiers
          cluster = None, desc = s"graft_vt branch INSERT ($baseName@$branch)",
          bucketRoute = None, check = base.boundCheck,
          branchCommit = Some((branch,
            entries => { VtBranch.commitEntries(root, branch, entries): Unit })))
      }
    }
  }
}
