package org.apache.spark.sql.graftlake

import scala.collection.mutable.LinkedHashMap

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, NoopCache, PartitionDirectory, PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Manifest-backed [[FileIndex]] for graft lake scans — the same
  * mechanism Delta's `TahoeFileIndex` and Iceberg's Spark relation use
  * to put the table format inside Catalyst's planner. Two properties:
  *
  *  1. **Zero filesystem listing at scan planning.** File statuses
  *     (path, size) come from the table manifest, so planning a scan
  *     costs no `getFileStatus`/`listStatus` round-trips at all. At
  *     10⁶ files on an object store that is the difference between a
  *     driver-side metadata lookup and minutes of S3 LIST traffic —
  *     `spark.read.parquet(paths)` pays a listing job every query.
  *  2. **Manifest pruning on pushed filters.** Catalyst hands
  *     [[listFiles]] the scan's pushed-down data filters; the `prune`
  *     callback evaluates them against per-file column bounds, hidden
  *     bucket-partition hashes, and per-file Bloom filters, and files
  *     that provably hold no matching row are never planned. This is
  *     what makes `SELECT … WHERE key = k` over a SQL view open 1/N of
  *     a `bucket(N, key)` table with no graft-specific API — every
  *     read path (SQL text, DataFrame ops, joins, MERGE source scans)
  *     inherits it.
  *
  * Partition discovery (hive-style `col=value` directories → partition
  * columns with types from `userSchema`) is inherited from Spark's own
  * [[PartitioningAwareFileIndex.inferPartitioning]] — value parsing,
  * escaping, and timezone handling are Spark's, not reimplemented.
  *
  * Per-file facts ride the partition row as hidden `fileColumns` after
  * the inferred ones: `__graft_seq` (the entry's data sequence number,
  * when equality deletes apply) and `__graft_fri` (its `first_row_id`,
  * on a lineage read). [[listFiles]] splits each directory by its
  * files' `fileValues`, so a scan carries them with no join and no
  * per-file literal — [[EntryFileIndex]]'s mechanism for foreign scans.
  *
  * This class lives under `org.apache.spark.sql` because the file-index
  * extension surface is `private[sql]` — the standard shim technique
  * Spark table formats use (Delta ships `org.apache.spark.sql.delta`).
  */
class GraftManifestFileIndex(
    val spark: SparkSession,
    val options: Map[String, String],
    val schema: StructType,
    statuses: Seq[FileStatus],
    prune: Seq[Expression] => (Path => Boolean),
    /** Exact total rows across `statuses` per the manifest's footer
      * counts — lets [[graft.lake.ManifestAggRule]] answer a bare
      * COUNT(*) with zero data I/O. */
    val knownRowCount: Long,
    /** Thunk producing PROVEN per-column facts across `statuses`
      * (bounds encoded in the manifest stat domain + exact non-null
      * counts, keyed by this scan's physical column names; see
      * [[graft.lake.ColumnProof]]). Lazily forced — only a plan that
      * [[graft.lake.ManifestAggRule]] can rewrite pays the fold over
      * per-file stats. */
    knownColumnProofs: () => Map[String, graft.lake.ColumnProof],
    /** Thunk producing per-file facts for the GROUPED metadata
      * rewrite. Lazily forced. */
    knownFileFacts: () => Seq[graft.lake.FileFacts],
    /** FILTERED facts for the metadata rewrite of
      * `SELECT min/max/count … WHERE cond`: given the condition in this
      * scan's physical column names, returns per-file facts for exactly
      * the files whose rows survive it — defined only when the manifest
      * PROVES the split (every possibly-matching file is proven
      * all-match via bounds + null counts, every other file provably
      * holds no match). None = not provable; the query runs normally. */
    knownFilteredFacts: Expression => Option[Seq[graft.lake.FileFacts]],
    fileColumns: StructType,
    fileValues: Map[Path, Seq[Any]])
  extends PartitioningAwareFileIndex(
    spark.asInstanceOf[classic.SparkSession], options,
    Some(schema.asNullable), NoopCache) {

  /** Forced at most once, and only by [[graft.lake.ManifestAggRule]]. */
  lazy val columnProofs: Map[String, graft.lake.ColumnProof] =
    knownColumnProofs()

  /** Forced at most once, and only by [[graft.lake.ManifestAggRule]]'s
    * grouped rewrite. */
  lazy val fileFacts: Seq[graft.lake.FileFacts] = knownFileFacts()

  /** Per-condition facts for the FILTERED metadata rewrite — evaluated
    * per call (conditions vary), only by [[graft.lake.ManifestAggRule]]
    * on plans it might rewrite. */
  def filteredFacts(cond: Expression): Option[Seq[graft.lake.FileFacts]] =
    knownFilteredFacts(cond)

  private val leaves: LinkedHashMap[Path, FileStatus] = {
    val m = LinkedHashMap.empty[Path, FileStatus]
    statuses.foreach(s => m(s.getPath) = s)
    m
  }
  private val byDir: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent)
      .map { case (d, fs) => d -> fs.toArray }

  // basePaths() reads the `basePath` parameter (always supplied by the
  // caller), so rootPaths is informational: the scanned files.
  override def rootPaths: Seq[Path] = statuses.map(_.getPath).toSeq
  override def leafFiles: LinkedHashMap[Path, FileStatus] = leaves
  override def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] = byDir
  override def refresh(): Unit = () // statuses are an immutable snapshot

  private lazy val cachedPartitionSpec: PartitionSpec = inferPartitioning()
  override def partitionSpec(): PartitionSpec = cachedPartitionSpec

  override def partitionSchema: StructType =
    StructType(super.partitionSchema.fields ++ fileColumns.fields)

  /** Spark's listing (partition-directory pruning via
    * `partitionFilters`, file-name filters) first, then the manifest
    * verdict per surviving file. Empty directories are dropped — a
    * fully-pruned partition never reaches the scan. */
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    val deterministic = dataFilters.filter(_.deterministic)
    val pruned =
      if (deterministic.isEmpty) base
      else {
        val keep = prune(deterministic)
        base.map(pd => pd.copy(files = pd.files.filter(f => keep(f.getPath))))
          .filter(_.files.nonEmpty)
      }
    if (fileColumns.isEmpty) pruned else splitByFileValues(pruned,
      partitionFilters)
  }

  /** Each directory split by its files' `fileValues`, appended to its
    * row. Spark's listing prunes on inferred columns only and the scan
    * re-applies no partition filter: file-column filters apply here. */
  private def splitByFileValues(dirs: Seq[PartitionDirectory],
      partitionFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val inferred = super.partitionSchema
    val bound = EntryFileIndex.rowPredicate(partitionFilters.filter(
      _.references.exists(a => fileColumns.fieldNames.contains(a.name))),
      partitionSchema)
    dirs.flatMap { pd =>
      val dir = pd.values.toSeq(inferred)
      val byValues = pd.files.groupBy(f => fileValues(f.getPath))
      pd.files.map(f => fileValues(f.getPath)).distinct.map(vs =>
        PartitionDirectory(InternalRow.fromSeq(dir ++ vs), byValues(vs)))
    }.filter(pd => bound.forall(_.eval(pd.values)))
  }
}

object GraftManifestFileIndex {

  /** Hidden per-file column: the entry's data sequence number. */
  val SEQ_COL = "__graft_seq"
  /** Hidden per-file column: the entry's `first_row_id` (null when the
    * file has none). */
  val FRI_COL = "__graft_fri"

  /** A parquet scan DataFrame over `index`'s files whose planning
    * consults the manifest: identical plan shape to `spark.read.parquet`
    * (a [[LogicalRelation]] over [[HadoopFsRelation]] — `_metadata`
    * columns, `input_file_name`, whole-stage codegen all behave the
    * same) but with [[GraftManifestFileIndex]] as the file listing.
    * The index's schema reads nullable, as DataFrameReader reads user
    * schemas: a file CAN hold nulls whatever the caller believes, and a
    * non-nullable long column would silently read them as 0. */
  def dataFrame(index: GraftManifestFileIndex,
      bucketSpec: Option[BucketSpec]): DataFrame = {
    val cs = index.spark.asInstanceOf[classic.SparkSession]
    val partNames = index.partitionSchema.fieldNames.toSet
    val dataSchema = StructType(
      index.schema.asNullable.fields.filterNot(f => partNames(f.name)))
    val relation = HadoopFsRelation(index, index.partitionSchema,
      dataSchema, bucketSpec, new ParquetFileFormat, index.options)(cs)
    classic.Dataset.ofRows(cs, LogicalRelation(relation))
  }
}
