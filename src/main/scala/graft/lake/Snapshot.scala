package graft.lake

import scala.collection.immutable.VectorMap

import com.fasterxml.jackson.databind.ObjectMapper

/** One committed version of a [[LakeTable]].
  *
  * Mirrors the information Iceberg keeps per snapshot that the reference
  * actually consumes (reference: scripts/bronze-silver.py:119,137,149-152 —
  * `.history`'s `snapshot_id`/`made_current_at` and the
  * start/end-snapshot-id incremental read): id, parent, wall-clock commit
  * time, the operation, and the file-level delta.
  *
  * Per-file state is ONE record per live data file: [[entries]] holds
  * the [[ManifestEntry]] of every live file (paths relative to the
  * table root), keyed by path, in live-file order — the same record the
  * manifest chunks store on disk. ON DISK the entries live in immutable
  * manifest chunk files referenced by name from the snapshot doc (see
  * [[ManifestIO]] — the Iceberg manifest-list shape), so a commit writes
  * O(delta) metadata, never O(table). The on-disk codec is
  * [[ManifestIO]]'s (`writeDoc` / `readDoc`, `listToJson` /
  * `snapshotFromJson`).
  */
final case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    timestampMs: Long,
    operation: String, // create | append | overwrite | merge
    addedFiles: Seq[String],
    removedFiles: Seq[String],
    /** The manifest entry of every live data file, keyed by path, in
      * live-file order: column bounds, rename mapping, data sequence
      * number, size/row count and spec id (see [[ManifestEntry]]). A
      * skeleton (see [[ManifestIO.listSkeleton]]) carries none. */
    entries: VectorMap[String, ManifestEntry],
    schemaJson: String,
    partitionColumns: Seq[String],
    properties: Map[String, String],
    /** Every live merge-on-read delete artifact, ONE record list (≡
      * Iceberg's delete-file manifest entries, each with its content
      * kind): equality deletes ([[DeleteFile]]), position deletes
      * ([[PosDeleteFile]]) and deletion vectors ([[DvFile]]). Kept in
      * CANONICAL order ([[DeleteEntry.canonical]]): by kind —
      * equality, position, vector — and within a kind in commit order,
      * the order the codec decodes, so a warm handle's list equals a
      * cold one's. [[DeleteArtifacts]] is the only reader and writer of
      * the artifacts' on-disk layout and applies them at read time.
      * Cleared by full compaction and overwrite. */
    deletes: Seq[DeleteEntry] = Nil,
    /** Names of the immutable manifest CHUNKS (`metadata/m-*.json.gz`
      * files, or `iv<id>-<k>.json.gz` delta chunks inline in a snapshot
      * doc) whose entries back this snapshot's per-file state — the
      * manifest list (see [[ManifestIO]]). Empty for a table with no files, or
      * before the commit plans its chunks. */
    manifests: Seq[String] = Nil,
    /** Registry of every partition spec this table has carried, id →
      * spec strings (≡ Iceberg's `partition-specs` list). Empty means
      * the table never evolved: the registry is {0 → partitionColumns}.
      * `partitionColumns` above always names the CURRENT spec
      * ([[currentSpecId]]) — the one new writes use. */
    partitionSpecs: Map[Long, Seq[String]] = Map.empty,
    currentSpecId: Long = 0L,
    /** Per-manifest-CHUNK column-bound summaries (chunk name → union of
      * its entries' bounds, a column present only when EVERY entry
      * records it; `__nulls__` pseudo-stats sum). What they buy: a
      * pruned scan can decide from the snapshot LIST alone which chunks
      * could hold matching files and materialize only those — capping
      * the O(live-files) driver cost of first materialization at 10⁸
      * files (≡ Iceberg's manifest-list partition summaries). Absent
      * chunk = unknown (conservatively loaded). */
    manifestSummaries: Map[String, Map[String, ColStat]] = Map.empty,
    /** Paths that entries of [[manifests]] still name but that are NOT
      * live here (≡ Iceberg's DELETED manifest entries): a row-level
      * commit keeps a chunk that lost files by name and lists the lost
      * paths instead of rewriting it. Every reader of chunk entries
      * subtracts them; at most [[ManifestIO.MaxTombstones]]. */
    tombstones: Seq[String] = Nil) {

  /** Paths of the live data files, in live-file order (the key view of
    * [[entries]], computed once per snapshot). */
  lazy val liveFiles: Seq[String] = entries.keys.toVector

  /** Rows the commit's added files hold (footer counts, before any
    * row-level delete). */
  def addedRecords: Long = addedFiles.iterator.map(entries(_).info.rows).sum

  /** Live equality-delete files: each suppresses, from every older
    * data file, the rows whose key columns match any row in the file
    * (a view of [[deletes]]). */
  def deleteFiles: Seq[DeleteFile] = deletes.collect { case d: DeleteFile => d }

  /** Live position-delete files (a view of [[deletes]]). */
  def posDeleteFiles: Seq[PosDeleteFile] =
    deletes.collect { case d: PosDeleteFile => d }

  /** Live deletion-vector artifacts (a view of [[deletes]]). */
  def dvFiles: Seq[DvFile] = deletes.collect { case d: DvFile => d }

  /** The spec registry with the never-evolved default folded in. */
  def specsOrDefault: Map[Long, Seq[String]] =
    if (partitionSpecs.isEmpty) Map(0L -> partitionColumns)
    else partitionSpecs
}

object Snapshot {
  private[lake] val mapper = new ObjectMapper()

  /** Entries keyed by path, in the given order. */
  def index(es: Iterable[ManifestEntry]): VectorMap[String, ManifestEntry] =
    VectorMap.from(es.iterator.map(e => e.path -> e))
}

/** Size and row count of one data file (manifest bookkeeping).
  * `firstRowId` is row-lineage bookkeeping (Iceberg v3 shape): the
  * table-unique id of this file's first row — row N of the file is
  * `firstRowId + N` unless the file physically carries a `_row_id`
  * column (rewritten files do, preserving carried rows' original
  * ids). Assigned at commit from the `row.next-id` counter when the
  * table opts into `write.row-lineage`. */
final case class FileInfo(bytes: Long, rows: Long,
    firstRowId: Option[Long] = None)

/** Min/max of one column in one data file, encoded in the type-normalized
  * string domain defined by [[FileStats]]. */
final case class ColStat(min: String, max: String)

/** One live merge-on-read delete artifact (see [[Snapshot.deletes]]):
  * a parquet file under `deletes/` and the data sequence number of the
  * snapshot that committed it. */
sealed trait DeleteEntry {
  def path: String
  def seq: Long
}

object DeleteEntry {
  /** `ds` in canonical order: by kind (equality, position, vector),
    * each kind keeping its given order (the sort is stable). */
  def canonical(ds: Seq[DeleteEntry]): Seq[DeleteEntry] = ds.sortBy {
    case _: DeleteFile => 0
    case _: PosDeleteFile => 1
    case _: DvFile => 2
  }
}

/** One equality-delete file (merge-on-read): a Parquet file of key rows
  * that suppresses matching rows in every data file whose data sequence
  * number is below `seq`. `keys` are the CURRENT logical column names
  * (renamed along with the table); `physicalKeys` are the names as
  * written in the file, fixed forever (same indirection as
  * [[ManifestEntry.renames]]). */
final case class DeleteFile(path: String, seq: Long, keys: Seq[String],
    physicalKeys: Seq[String]) extends DeleteEntry

/** One position-delete file (merge-on-read, ≡ Iceberg v2): a Parquet
  * file of (file_uri STRING, pos BIGINT) rows — `file_uri` is the target
  * data file's scan URI (as Spark's `_metadata.file_path` reports it),
  * `pos` the row ordinal within that physical file. `seq` records the
  * committing snapshot (bookkeeping only — positions bind to immutable
  * files, so application needs no sequence ordering). */
final case class PosDeleteFile(path: String, seq: Long) extends DeleteEntry

/** One deletion-vector artifact (≡ Iceberg v3 DVs / Delta deletion
  * vectors, parquet-encoded): a Parquet file of
  * (file STRING, dv ARRAY<BIGINT>, n_deleted BIGINT) rows — one
  * compressed bitmap of deleted row ordinals PER data file, the fold
  * of every position delete accumulated against that file. `file` is
  * the target's table-relative path (`data/…`); `seq` records the
  * consolidating snapshot (bookkeeping only, like
  * [[PosDeleteFile.seq]]). `bytes` is the artifact's on-disk size,
  * recorded at commit so the read path can size-gate its broadcast
  * without a plan-time `getFileStatus`. */
final case class DvFile(path: String, seq: Long, bytes: Long)
  extends DeleteEntry
