package org.apache.spark.sql.graftlake

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, GenericInternalRow, Literal, Predicate}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.{ColStat, PredicatePruning}

/** Log-backed [[FileIndex]] for foreign Delta tables — the same shape
  * delta-spark's own `TahoeFileIndex` uses: partition VALUES come from
  * the `_delta_log` add actions (authoritative per the Delta PROTOCOL;
  * data files need not contain the partition columns and directories
  * need not be hive-style), and the scan plans through Catalyst's
  * normal file-source machinery. Two properties follow with no
  * graft-specific API:
  *
  *  1. **Native partition pruning.** Partition columns are REAL
  *     partition columns of the relation, so `WHERE p = 'x'` over a
  *     `register_delta` view prunes whole partitions in the planner —
  *     the r15 gap where only the Scala `scanWhere` path skipped.
  *  2. **Stats file-skipping on pushed data filters.** Catalyst hands
  *     [[listFiles]] the pushed predicates; each surviving file is
  *     checked against its add action's stats JSON (converted to the
  *     graft stat domain lazily, only when a filter is present) via
  *     [[graft.lake.PredicatePruning]] — conservative everywhere, and
  *     never load-bearing (the predicate re-applies on the scan).
  *
  * Versus the previous broadcast-join shape (file list joined on
  * `_metadata.file_path`), this also deletes a join from every read.
  */
class DeltaLogFileIndex(
    spark: SparkSession,
    tableDir: String,
    schema: StructType,
    partCols: Seq[String],
    /** (status, raw partition values by column — None = null). */
    entries: Seq[(FileStatus, Map[String, Option[String]])],
    /** Per-uri graft-domain stats, forced only under a data filter. */
    statsThunk: () => Map[String, Map[String, ColStat]])
  extends FileIndex {

  override val partitionSchema: StructType =
    StructType(partCols.map(schema(_)))

  private lazy val stats: Map[String, Map[String, ColStat]] = statsThunk()

  private def typed(raw: Option[String], dt: DataType): Any = raw match {
    case None => null
    case Some(s) =>
      // Delta serializes partition values as strings Spark's cast
      // reads back exactly (the same cast the join-based reader used)
      Cast(Literal(UTF8String.fromString(s), StringType), dt,
        Option(SQLConf.get.sessionLocalTimeZone)).eval()
  }

  /** Files grouped by raw partition values (NOT by directory — a
    * foreign writer may keep every partition's files in one flat
    * dir), each group carrying its typed partition row. */
  private lazy val groups: Seq[(InternalRow, Seq[FileStatus])] =
    entries.groupBy(_._2).toSeq.map { case (raw, es) =>
      val row = new GenericInternalRow(partCols.map(c =>
        typed(raw.getOrElse(c, None), schema(c).dataType)).toArray)
      (row: InternalRow, es.map(_._1))
    }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val bound = partitionFilters.filter(_.deterministic)
      .reduceOption(And).map { f =>
        Predicate.createInterpreted(f.transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldIndex(a.name)
            BoundReference(i, partitionSchema(i).dataType,
              nullable = true)
        })
      }
    val afterPart = groups.filter { case (row, _) =>
      bound.forall(_.eval(row)) }
    val det = dataFilters.filter(_.deterministic)
    val afterStats =
      if (det.isEmpty) afterPart
      else {
        val cond = det.reduce(And)
        val keep = PredicatePruning.candidateFiles(cond, schema,
          entries.map(_._1.getPath.toString), stats.get).toSet
        afterPart.map { case (row, fs) =>
          (row, fs.filter(f => keep(f.getPath.toString))) }
          .filter(_._2.nonEmpty)
      }
    afterStats.map { case (row, fs) =>
      PartitionDirectory(row, fs.toArray) }
  }

  override def inputFiles: Array[String] =
    entries.map(_._1.getPath.toString).toArray
  override def rootPaths: Seq[Path] = Seq(new Path(tableDir))
  override def refresh(): Unit = () // the add list is a version pin
  override def sizeInBytes: Long = entries.map(_._1.getLen).sum
}

object DeltaLogFileIndex {

  /** A parquet scan DataFrame over the add list, in the declared
    * schema (partition columns come from the log's partitionValues via
    * the file-source partition mechanism — no join). */
  def dataFrame(spark: SparkSession, tableDir: String,
      schema: StructType, partCols: Seq[String],
      entries: Seq[(FileStatus, Map[String, Option[String]])],
      statsThunk: () => Map[String, Map[String, ColStat]],
      /** Column-mapping `id` mode: resolve parquet columns by the
        * `parquet.field.id` metadata the read schema carries (the
        * relation-scoped form of
        * spark.sql.parquet.fieldId.read.enabled). */
      fieldIdRead: Boolean = false): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val fullSchema = schema.asNullable
    val index = new DeltaLogFileIndex(cs, tableDir, fullSchema,
      partCols, entries, statsThunk)
    val partSet = partCols.toSet
    val dataSchema =
      StructType(fullSchema.fields.filterNot(f => partSet(f.name)))
    val options =
      if (fieldIdRead)
        Map(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key -> "true")
      else Map.empty[String, String]
    val relation = HadoopFsRelation(index, index.partitionSchema,
      dataSchema, None, new ParquetFileFormat, options)(cs)
    // project back to the DECLARED column order (the file-source
    // relation appends partition columns last)
    val df = classic.Dataset.ofRows(cs, LogicalRelation(relation))
    df.select(fullSchema.fieldNames.map(df.col).toIndexedSeq: _*)
  }
}
