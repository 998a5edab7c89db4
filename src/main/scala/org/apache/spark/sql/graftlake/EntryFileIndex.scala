package org.apache.spark.sql.graftlake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BasePredicate, BoundReference, Expression, Predicate}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{coalesce, col, regexp_replace}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import graft.lake.{ColStat, PredicatePruning}

/** [[FileIndex]] over an explicit list of entries — the shape
  * delta-spark's `TahoeFileIndex` and Iceberg's Spark reader use, and
  * the one planning path of the foreign readers
  * ([[graft.lake.DeltaImport]], [[graft.lake.IcebergImport]]). Each
  * entry is a file status plus its TYPED partition row, and every
  * per-file fact rides that row as a partition column: a Delta log's
  * partitionValues, an Iceberg manifest's identity values, and
  * synthetic per-file constants (a data sequence number, a
  * `first_row_id` / `baseRowId`, a change feed's commit version). A
  * read therefore attaches per-file facts with no join, and the scan
  * plans through Catalyst's normal file-source machinery:
  *
  *  1. **No listing.** Statuses (path, size) come from the entries.
  *  2. **Native partition pruning** on the typed rows.
  *  3. **Stats file-skipping on pushed data filters.** Catalyst hands
  *     [[listFiles]] the pushed predicates; each surviving file is
  *     checked against its entry's stats (forced lazily, only when a
  *     filter is present) via [[graft.lake.PredicatePruning]] —
  *     conservative everywhere, and never load-bearing (the predicate
  *     re-applies on the scan).
  *
  * A path may appear in several entries with different rows (a Delta
  * file removed and re-added inside a change-feed range); each entry
  * is read once.
  */
class EntryFileIndex(
    override val partitionSchema: StructType,
    /** The relation schema pushed filters are typed against. */
    schema: StructType,
    entries: Seq[(FileStatus, InternalRow)],
    /** Per-path graft-domain stats, forced only under a data filter. */
    statsThunk: () => Map[String, Map[String, ColStat]])
  extends FileIndex {

  private lazy val stats: Map[String, Map[String, ColStat]] = statsThunk()

  /** Files grouped by partition row (NOT by directory — a foreign
    * writer may keep every partition's files in one flat dir). */
  private lazy val groups: Seq[(InternalRow, Seq[FileStatus])] =
    entries.groupBy(_._2).toSeq.map { case (row, es) =>
      (row, es.map(_._1)) }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val bound = EntryFileIndex.rowPredicate(partitionFilters,
      partitionSchema)
    val afterPart = groups.filter { case (row, _) =>
      bound.forall(_.eval(row)) }
    val det = dataFilters.filter(_.deterministic)
    val afterStats =
      if (det.isEmpty) afterPart
      else {
        val cond = det.reduce(And)
        val keep = PredicatePruning.candidateFiles(cond, schema,
          inputFiles.toSeq, stats.get).toSet
        afterPart.map { case (row, fs) =>
          (row, fs.filter(f => keep(f.getPath.toString))) }
          .filter(_._2.nonEmpty)
      }
    afterStats.map { case (row, fs) =>
      PartitionDirectory(row, fs.toArray) }
  }

  override lazy val inputFiles: Array[String] =
    entries.map(_._1.getPath.toString).distinct.toArray
  override def rootPaths: Seq[Path] =
    entries.headOption.map(_._1.getPath.getParent).toSeq
  override def refresh(): Unit = () // the entry list is a version pin
  override def sizeInBytes: Long = entries.map(_._1.getLen).sum
}

object EntryFileIndex {

  private val SchemeAuthority = "^[a-zA-Z][a-zA-Z0-9+.-]*:/*"

  /** Strip `scheme://authority` variance so paths written by different
    * qualifiers compare equal: `file:/t/x`, `file:///t/x` → `/t/x`;
    * `s3a://b/k` → `/b/k`. */
  def normUri(s: String): String = s.replaceFirst(SchemeAuthority, "/")

  /** The deterministic `filters`' conjunction, evaluated against a
    * partition row of `schema` (attributes bound by name). */
  def rowPredicate(filters: Seq[Expression],
      schema: StructType): Option[BasePredicate] =
    filters.filter(_.deterministic).reduceOption(And).map { f =>
      Predicate.createInterpreted(f.transform {
        case a: AttributeReference =>
          val i = schema.fieldIndex(a.name)
          BoundReference(i, schema(i).dataType, nullable = true)
      })
    }

  /** [[normUri]] as a column expression. */
  def normUriCol(c: Column): Column = regexp_replace(c, SchemeAuthority, "/")

  /** CANONICAL key for matching driver-side file lists against
    * `_metadata.file_path`: Spark reports the URL-ENCODED `Path.toUri`
    * form (space → %20, hive-escaped '%' → %25, '+' literal).
    * INPUT MUST BE THE DECODED/LITERAL PATH FORM — Hadoop Path keeps
    * literals (no unescaping), so this encodes exactly once; feeding
    * an already-encoded string would double-escape '%'. Unparseable
    * input falls back raw (never throws on a hostile log). */
  def canonUri(s: String): String =
    normUri(scala.util.Try(new Path(s).toUri.toString).getOrElse(s))

  /** The row's source file in [[canonUri]] form. */
  def fileKey: Column = normUriCol(col("_metadata.file_path"))

  /** Row lineage, the fresh/materialized rule Delta row tracking and
    * Iceberg v3 share: a materialized id wins; otherwise the file's
    * first id (a per-file partition column) + the row's PHYSICAL
    * position (`_metadata.row_index`, pre-delete — a deleted row never
    * renumbers its survivors). */
  def rowId(materialized: Option[Column], first: Column,
      pos: Column): Column =
    coalesce(materialized.toSeq :+ (first + pos): _*)

  /** A status for an entry of recorded `size`. A spec writer always
    * records the size; a sloppy writer's 0 would make Spark's split
    * planner skip the file entirely (zero splits), so a size of 0 or
    * less stats the real length rather than lose rows. */
  def status(conf: Configuration, uri: String, size: Long,
      modificationTime: Long): FileStatus = {
    val p = new Path(uri)
    val len =
      if (size > 0L) size
      else p.getFileSystem(conf).getFileStatus(p).getLen
    new FileStatus(len, false, 1, len, modificationTime, p)
  }

  /** A parquet scan DataFrame over `entries`: `dataSchema` read from
    * the files (nullable — a file may lack a column), then the
    * `partitionSchema` columns from each entry's row. */
  def dataFrame(spark: SparkSession, dataSchema: StructType,
      partitionSchema: StructType,
      entries: Seq[(FileStatus, InternalRow)],
      statsThunk: () => Map[String, Map[String, ColStat]],
      /** Column-mapping `id` mode: resolve parquet columns by the
        * `parquet.field.id` metadata the read schema carries (the
        * relation-scoped form of
        * spark.sql.parquet.fieldId.read.enabled). */
      fieldIdRead: Boolean = false): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val data = dataSchema.asNullable
    val index = new EntryFileIndex(partitionSchema,
      StructType(data.fields ++ partitionSchema.fields), entries,
      statsThunk)
    val options =
      if (fieldIdRead)
        Map(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key -> "true")
      else Map.empty[String, String]
    val relation = HadoopFsRelation(index, partitionSchema, data, None,
      new ParquetFileFormat, options)(cs)
    classic.Dataset.ofRows(cs, LogicalRelation(relation))
  }
}
