package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checkpoint.Checkpoint
import graft.lake.LakeCatalog
import graft.operators.Dedup
import graft.schema.AvroSchemaConverter

/** Bronze → silver: snapshot-incremental read, last-writer-wins dedup,
  * MERGE upsert, snapshot-checkpoint-gated commit.
  *
  * ≡ reference entry point B (scripts/bronze-silver.py:222-305):
  *   - latest bronze snapshot id (the reference's `.history` top-1 by
  *     `made_current_at`, read here as HEAD);
  *   - no checkpoint → full scan; checkpoint == latest → short-circuit;
  *     else incremental scan `(checkpoint, latest]`;
  *   - dedup to the latest row per `invoiceid` by `processed_time`
  *     (ROW_NUMBER window), align to the Avro-declared silver schema
  *     (dropping `Op` + audit columns — SURVEY.md wart #1);
  *   - ONE MERGE INTO silver on `invoiceid` (COW) per drop, whose CDC
  *     `deleteWhen` removes the keys whose latest op is D, creating the
  *     table from the Avro schema on first run, partitioned by
  *     `destinationstate`;
  *   - only then save the snapshot checkpoint.
  */
final class BronzeToSilverJob(
    spark: SparkSession,
    catalog: LakeCatalog,
    namespace: String,
    bronzeTable: String,
    silverTable: String,
    checkpointPath: String,
    avroSchemaJson: String = BronzeToSilverJob.ordersAvroSchema,
    mergeKey: String = "invoiceid",
    versionColumns: Option[Seq[org.apache.spark.sql.Column]] = None,
    partitionBy: Seq[String] = Seq("destinationstate"),
    tableProperties: Map[String, String] = PipelineDefaults.tableProperties) {

  import BronzeToSilverJob._

  /** Returns the number of source rows merged (0 = no new data). */
  def run(): Long = {
    val bronze = catalog.loadTable(namespace, bronzeTable)

    // latest snapshot (≡ scripts/bronze-silver.py:136-141, the top-1 of
    // `.history` by `made_current_at`) read as HEAD: in linear history
    // HEAD is the snapshot that top-1 means, and reading it costs no
    // Spark job and no rewrite of the history cache. The commit-time
    // order can also name a non-HEAD snapshot when two writers' clocks
    // disagree; HEAD cannot.
    val latest = bronze.currentSnapshotId.getOrElse(throw
      new IllegalStateException(s"bronze table $bronzeTable has no snapshot"))

    val ckpt = Checkpoint.loadKey(checkpointPath, CKPT_KEY).map(_.toLong)
    val incoming: DataFrame = ckpt match {
      case None                     => bronze.scan()               // cold start
      case Some(c) if c == latest   => return 0L                   // no new data
      case Some(c)                  => bronze.incrementalScan(c, latest)
    }

    val silverSchema = AvroSchemaConverter.toStructType(avroSchemaJson)

    // last-writer-wins per business key, then drop Op/audit columns.
    // Tie-break order matters when several CDC ops for one key land in
    // the SAME ingest run (identical processed_time): Op priority
    // D > U > I resolves them in CDC order (a delete chronologically
    // follows the image it deletes); input_file is the final
    // deterministic tie-break.
    // version order adapts to the columns actually present, so an
    // Op-less (non-CDC) bronze feed works out of the box
    val cols = incoming.columns.toSet
    val versionCols = versionColumns.getOrElse(
      Seq(col("processed_time")) ++
        (if (cols("Op")) Seq(BronzeToSilverJob.opPriority) else Nil) ++
        (if (cols("input_file")) Seq(col("input_file")) else Nil))
    val deduped = Dedup.latestPerKey(incoming, Seq(mergeKey), versionCols)

    val silver =
      if (catalog.tableExists(namespace, silverTable))
        catalog.loadTable(namespace, silverTable)
      else
        catalog.createTable(namespace, silverTable, silverSchema,
          partitionBy, tableProperties)

    // full CDC semantics: a key whose latest op is D is removed from
    // silver (the reference's MERGE would upsert the delete image —
    // row resurrection), in the same single merge commit that upserts
    // the rest; the merge's schema alignment drops Op after the split
    val hasOp = cols("Op")
    val batch = deduped.select(
      (silverSchema.fieldNames.toSeq ++ Seq("Op").filter(cols)).map(col): _*)
    val upserts =
      if (hasOp) batch.where(col("Op") =!= "D" || col("Op").isNull)
      else batch

    // persist the deduped batch: the count + merge's prune scan and
    // rewrite join each re-evaluate the incremental-scan→dedup subtree
    // otherwise; spillable MEMORY_AND_DISK caps the memory risk at any
    // batch size
    val dedupedP =
      deduped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = upserts.count()
      silver.merge(batch, Seq(mergeKey),
        deleteWhen = if (hasOp) Some(col("Op") === "D") else None)

      Checkpoint.save(checkpointPath, Map(CKPT_KEY -> latest.toString))
      n
    } finally dedupedP.unpersist(blocking = false)
  }
}

object BronzeToSilverJob {
  val CKPT_KEY = "last_processed_snapshot"

  /** Op priority D > U > I — CDC order when several ops for one key tie
    * on processed_time within one ingest run. */
  def opPriority: org.apache.spark.sql.Column =
    when(col("Op") === "D", 2).when(col("Op") === "U", 1).otherwise(0)

  /** The silver `orders` contract — the 10 Avro-declared fields
    * (≡ scripts/bronze-silver.py:236-253; audit columns are consumed for
    * dedup ordering then dropped, per SURVEY.md wart #1). */
  val ordersAvroSchema: String =
    """{
      |  "type": "record",
      |  "name": "orders",
      |  "fields": [
      |    {"name": "replicadmstimestamp",
      |     "type": {"type": "long", "logicalType": "timestamp-micros"}},
      |    {"name": "invoiceid", "type": "long"},
      |    {"name": "itemid", "type": "long"},
      |    {"name": "category", "type": ["null", "string"]},
      |    {"name": "price", "type": ["null", "double"]},
      |    {"name": "quantity", "type": ["null", "int"]},
      |    {"name": "orderdate",
      |     "type": ["null", {"type": "int", "logicalType": "date"}]},
      |    {"name": "destinationstate", "type": ["null", "string"]},
      |    {"name": "shippingtype", "type": ["null", "string"]},
      |    {"name": "referral", "type": ["null", "string"]}
      |  ]
      |}""".stripMargin
}
