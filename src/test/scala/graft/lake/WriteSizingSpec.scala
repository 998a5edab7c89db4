package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.BronzeToSilverJob
import graft.schema.AvroSchemaConverter

/** Output sizing on the one write path ([[LakeTable.sizedForWrite]]): a
  * write under `write.target-file-size-bytes` runs as one task, so it
  * adds one file per partition it touches instead of one per input
  * task × partition; a plan whose size estimate is no upper bound keeps
  * its width; and sizing launches no Spark job of its own. */
class WriteSizingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** `n` rows over `parts` values of `p`, spread across 4 input tasks
    * (each of which holds every partition value). */
  private def rows(n: Long, parts: Int): DataFrame =
    spark.range(0, n, 1, 4).select($"id", ($"id" % parts).cast("int").as("p"),
      concat(lit("v"), $"id").as("v"))

  private def table(name: String,
      props: Map[String, String] = Map.empty): LakeTable =
    LakeTable.create(spark, TestSpark.tmpDir(name) + "/t",
      rows(1, 1).schema, Seq("p"), props)

  private def files(t: LakeTable): Set[String] =
    t.currentSnapshot.get.liveFiles.toSet

  private val mor = Map(LakeTable.PROP_MERGE_MODE -> "merge-on-read")
  private val tiny = Map(LakeTable.PROP_TARGET_FILE_BYTES -> "1")

  /** 400 source rows in partitions 0–2 across 4 tasks: 300 update keys
    * of a 15 000-row table, 100 fresh inserts. */
  private def drop: DataFrame =
    spark.range(0, 400, 1, 4).select(($"id" * 50 + $"id" % 3).as("id"),
      ($"id" % 3).cast("int").as("p"), lit("merged").as("v"))

  test("a 400-row merge-on-read merge into a 50-partition table adds " +
      "one file per partition it touches") {
    val t = table("sizing-mor", mor)
    t.append(rows(15000, 50))
    assert(files(t).size == 50)
    val before = files(t)
    t.merge(drop, Seq("id"))
    val snap = t.currentSnapshot.get
    val added = files(t) -- before
    assert(snap.removedFiles.isEmpty && snap.deletes.size == 1)
    assert(added.size == 3, added)
    assert(added.map(f => f.take(f.lastIndexOf('/'))) ==
      Set("data/p=0", "data/p=1", "data/p=2"))
    assert(t.scan().count() == 15100)
    assert(t.scan().where($"v" === "merged").count() == 400)
  }

  test("the bronze → silver bulk load writes one silver file per " +
      "destinationstate") {
    val cat = new LakeCatalog(spark, TestSpark.tmpDir("sizing-wh"))
    val silverSchema = AvroSchemaConverter.toStructType(
      BronzeToSilverJob.ordersAvroSchema)
    val ts = timestamp_seconds(lit(1700000000L) + $"id")
    val bronze = spark.range(0, 3000, 1, 4).select(lit("I").as("Op"),
      ts.as("replicadmstimestamp"), $"id".as("invoiceid"),
      ($"id" % 97).as("itemid"), lit("plain").as("category"),
      ($"id" * 0.5).as("price"), lit(1).as("quantity"),
      to_date(ts).as("orderdate"),
      concat(lit("S"), ($"id" % 20).cast("string")).as("destinationstate"),
      lit("Standard").as("shippingtype"), lit("web").as("referral"),
      ts.as("processed_time"))
    assert(silverSchema.fieldNames.forall(bronze.columns.contains))
    cat.createTable("ns", "bronze", bronze.schema).append(bronze)
    val job = new BronzeToSilverJob(spark, cat, "ns", "bronze", "silver",
      TestSpark.tmpDir("sizing-ckpt") + "/b2s.json")
    assert(job.run() == 3000L)
    val silver = cat.loadTable("ns", "silver")
    assert(files(silver).size == 20, files(silver))
    assert(silver.scan().count() == 3000L)
  }

  test("a tiny write.target-file-size-bytes keeps the task fan-out") {
    val sized = table("sizing-default")
    sized.append(rows(4000, 5))
    val fanned = table("sizing-tiny", tiny)
    fanned.append(rows(4000, 5))
    assert(files(sized).size == 5)
    assert(files(fanned).size == 20)
    assert(fanned.scan().orderBy("id").collect().toSeq ==
      sized.scan().orderBy("id").collect().toSeq)
  }

  test("an explode input keeps its width: its estimate is no upper " +
      "bound") {
    val exploded = spark.range(0, 1000, 1, 4)
      .select(explode(sequence($"id" * 4, $"id" * 4 + 3)).as("id"))
      .select($"id", ($"id" % 5).cast("int").as("p"),
        concat(lit("v"), $"id").as("v"))
    assert(LakeTable.estimatedBytes(exploded).isEmpty)
    assert(LakeTable.estimatedBytes(rows(4000, 5)).nonEmpty)
    val t = table("sizing-explode")
    t.append(exploded)
    assert(files(t).size == 20)
    assert(t.scan().count() == 4000L)
  }

  test("the sized write launches as many Spark jobs as the unsized one") {
    def jobs(props: Map[String, String]): (Int, Int) = {
      val t = table("sizing-jobs", mor ++ props)
      val append = TestSpark.jobsDuring(t.append(rows(15000, 50)))
      val merge = TestSpark.jobsDuring(t.merge(drop, Seq("id")))
      (append, merge)
    }
    val unsized = jobs(tiny)
    assert(unsized._1 >= 1 && unsized._2 >= 1)
    assert(jobs(Map.empty) == unsized)
  }
}
