package graft.pipeline

import org.apache.spark.sql.SparkSession

import graft.lake.{LakeCatalog, LakeTable}
import graft.sources.{CsvIngest, IncrementalFileSource}

/** Raw → bronze: incremental CSV pickup, audit enrichment, append-only
  * load, checkpoint-gated commit.
  *
  * ≡ reference entry point A (scripts/raw-bronze.py:199-266): list files
  * newer than the mtime checkpoint → tab-CSV read with inferred schema →
  * enrich (`input_file`, `processed_time`, `processed_date`) → append to
  * the bronze table partitioned by `processed_date` (create on first run)
  * → only then commit the checkpoint. A crash between table commit and
  * checkpoint commit re-processes the batch: at-least-once into
  * append-only bronze, absorbed downstream by silver's idempotent upsert.
  */
final class RawToBronzeJob(
    spark: SparkSession,
    catalog: LakeCatalog,
    rawDir: String,
    checkpointPath: String,
    namespace: String,
    table: String,
    partitionBy: Seq[String] = Seq("processed_date"),
    tableProperties: Map[String, String] = PipelineDefaults.tableProperties,
    fixedTime: Option[java.sql.Timestamp] = None) {

  /** Returns the number of rows appended (0 = no new files). */
  def run(): Long = {
    val source = new IncrementalFileSource(spark, rawDir, checkpointPath)
    val files = source.newFiles()
    if (files.isEmpty) return 0L

    val raw = CsvIngest.read(spark, files.map(_._1))
    val enriched = CsvIngest.enrich(raw, fixedTime)

    val t =
      if (catalog.tableExists(namespace, table))
        catalog.loadTable(namespace, table)
      else {
        catalog.createNamespace(namespace)
        catalog.createTable(namespace, table, enriched.schema,
          partitionBy, tableProperties)
      }
    // the row count comes from the append commit's entries (footer
    // counts), not from a second pass over the CSVs
    val appended = t.snapshot(t.append(enriched)).addedRecords
    source.commit(files) // commit gate: checkpoint only after table commit
    appended
  }
}

object PipelineDefaults {
  /** ≡ the reference's `table_type='COW'` properties
    * (scripts/raw-bronze.py:160-175, scripts/bronze-silver.py:179-200):
    * COW for delete/update/merge, parquet v2, snappy at the bronze call
    * site — the mode both reference jobs actually run with. */
  val tableProperties: Map[String, String] = Map(
    LakeTable.PROP_FORMAT_VERSION -> "2",
    LakeTable.PROP_DELETE_MODE -> "copy-on-write",
    LakeTable.PROP_UPDATE_MODE -> "copy-on-write",
    LakeTable.PROP_MERGE_MODE -> "copy-on-write",
    LakeTable.PROP_COMPRESSION -> "snappy")

  /** ≡ the reference's `table_type='MOR'` branch
    * (scripts/raw-bronze.py:166-172, scripts/bronze-silver.py:186-194):
    * merges/deletes commit equality-delete files instead of rewriting. */
  val tablePropertiesMor: Map[String, String] = Map(
    LakeTable.PROP_FORMAT_VERSION -> "2",
    LakeTable.PROP_DELETE_MODE -> "merge-on-read",
    LakeTable.PROP_UPDATE_MODE -> "merge-on-read",
    LakeTable.PROP_MERGE_MODE -> "merge-on-read",
    LakeTable.PROP_COMPRESSION -> "snappy")
}
