package graft.pipeline

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.lake.LakeCatalog

/** Golden end-to-end: replay the reference's two-drop fixture
  * (reference: README.md:147-229 demo protocol; drops loaded by
  * [[GoldenFixture]]: initialsinserts + updates CSVs) and assert the exact
  * end-state from SURVEY.md §3.3: bronze 7 rows append-only; silver 5
  * rows with invoices 40994/83597 carrying the `####`-suffixed categories
  * after the update drop.
  */
class GoldenPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("cold start: BOTH drops in one run → updates still win (Op tie-break)") {
    val base = TestSpark.tmpDir("golden-cold")
    val rawDir = s"$base/raw"
    val cat = new LakeCatalog(spark, s"$base/warehouse")
    val runner = new PipelineRunner(spark, cat, rawDir, s"$base/checkpoints")

    // both drops land before the first pipeline run: every row shares one
    // processed_time, so last-writer-wins must fall through to Op desc
    GoldenFixture.land(GoldenFixture.Inserts, rawDir)
    GoldenFixture.land(GoldenFixture.Updates, rawDir)
    val (b, s) = runner.runOnce()
    assert(b == 7 && s == 5)
    val cats = cat.loadTable("example_namespace", "silver_orders").scan()
      .select("invoiceid", "category").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cats(40994L) == "market####")
    assert(cats(83597L) == "language####")
  }

  test("CDC delete: a D row removes its key from silver") {
    val base = TestSpark.tmpDir("golden-del")
    val rawDir = s"$base/raw"
    val cat = new LakeCatalog(spark, s"$base/warehouse")
    val runner = new PipelineRunner(spark, cat, rawDir, s"$base/checkpoints")

    GoldenFixture.land(GoldenFixture.Inserts, rawDir)
    runner.runOnce()

    // drop 2: delete invoice 24137 (a D row mirroring its insert image)
    val insertCsv =
      Files.readString(GoldenFixture.csvs(GoldenFixture.Inserts).head)
    val lines = insertCsv.linesIterator.toSeq
    val deleteRow = lines.find(_.contains("\t24137\t")).get
      .replaceFirst("^I\t", "D\t")
    val drop2 = Paths.get(rawDir).resolve("zz_delete.csv")
    Files.writeString(drop2, lines.head + "\n" + deleteRow + "\n")
    drop2.toFile.setLastModified(System.currentTimeMillis())
    runner.runOnce()

    val silver = cat.loadTable("example_namespace", "silver_orders").scan()
    assert(silver.count() == 4)
    assert(silver.where(org.apache.spark.sql.functions
      .col("invoiceid") === 24137L).count() == 0)
  }

  test("reference fixture: two drops → bronze 7 rows, silver 5, updates win") {
    val base = TestSpark.tmpDir("golden")
    val rawDir = s"$base/raw"
    val wh = s"$base/warehouse"
    val ckpt = s"$base/checkpoints"
    val cat = new LakeCatalog(spark, wh)
    val runner = new PipelineRunner(spark, cat, rawDir, ckpt)

    // drop 1: initial inserts
    GoldenFixture.land(GoldenFixture.Inserts, rawDir)
    val (b1, s1) = runner.runOnce()
    assert(b1 == 5 && s1 == 5)
    assert(cat.loadTable("example_namespace", "bronze_orders").scan().count() == 5)
    assert(cat.loadTable("example_namespace", "silver_orders").scan().count() == 5)

    // idempotent no-op re-run (no new files, no new snapshots)
    assert(runner.runOnce() == ((0L, 0L)))

    // drop 2: updates — no sleep: the checkpoint's boundary-file names
    // disambiguate drops landing in the same mtime tick
    GoldenFixture.land(GoldenFixture.Updates, rawDir)
    val (b2, s2) = runner.runOnce()
    assert(b2 == 2 && s2 == 2)

    val bronze = cat.loadTable("example_namespace", "bronze_orders").scan()
    assert(bronze.count() == 7) // append-only

    val silver = cat.loadTable("example_namespace", "silver_orders").scan()
    assert(silver.count() == 5) // deduped upsert
    val cats = silver.select("invoiceid", "category").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cats(40994L).endsWith("####"), s"got ${cats(40994L)}")
    assert(cats(83597L).endsWith("####"), s"got ${cats(83597L)}")
    assert(cats.values.count(_.endsWith("####")) == 2)

    // silver schema = the 10 Avro fields, no Op/audit columns
    assert(silver.columns.toSeq == Seq("replicadmstimestamp", "invoiceid",
      "itemid", "category", "price", "quantity", "orderdate",
      "destinationstate", "shippingtype", "referral"))

    // gold mart over the final silver state
    val goldRows = new SilverToGoldJob(spark, cat, "example_namespace").run()
    val gold = cat.loadTable("example_namespace", "gold_orders_by_state")
      .scan().collect()
      .map(r => r.getAs[String]("destinationstate") ->
        r.getAs[Long]("n_orders")).toMap
    assert(goldRows == 4) // states SC, PW, CT, VI
    assert(gold == Map("SC" -> 2L, "PW" -> 1L, "CT" -> 1L, "VI" -> 1L))

    // bronze → silver reads bronze's HEAD, never its `.history` view, so
    // no snapshot-summary cache is written; and gzip-framed metadata
    // carries no `.crc` siblings in any table
    def metaNames(table: String): Seq[String] =
      Option(new java.io.File(cat.tablePath("example_namespace", table),
        "metadata").list()).map(_.toSeq).getOrElse(Nil)
    assert(!metaNames("bronze_orders").contains("snaplog.json"))
    Seq("bronze_orders", "silver_orders", "gold_orders_by_state")
      .foreach { t =>
        assert(metaNames(t).nonEmpty && !metaNames(t).exists(_.endsWith(".crc")),
          s"$t: ${metaNames(t)}")
      }
  }

  test("MOR silver (reference table_type='MOR'): same golden end state, zero rewrites") {
    val base = TestSpark.tmpDir("golden-mor")
    val rawDir = s"$base/raw"
    val cat = new LakeCatalog(spark, s"$base/warehouse")
    def run(): (Long, Long) = {
      val b = new RawToBronzeJob(spark, cat, rawDir,
        s"$base/ckpt/raw_to_bronze.json", "example_namespace",
        "bronze_orders").run()
      val s = new BronzeToSilverJob(spark, cat, "example_namespace",
        "bronze_orders", "silver_orders", s"$base/ckpt/bronze_to_silver.json",
        tableProperties = PipelineDefaults.tablePropertiesMor).run()
      (b, s)
    }
    GoldenFixture.land(GoldenFixture.Inserts, rawDir)
    assert(run() == ((5L, 5L)))
    GoldenFixture.land(GoldenFixture.Updates, rawDir)
    assert(run() == ((2L, 2L)))

    val silverT = cat.loadTable("example_namespace", "silver_orders")
    val silver = silverT.scan()
    assert(silver.count() == 5)
    val cats = silver.select("invoiceid", "category").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cats(40994L).endsWith("####") && cats(83597L).endsWith("####"))
    // MOR really executed: no data file was ever rewritten by a merge
    val merges = silverT.snapshots.filter(_.operation == "merge")
    assert(merges.nonEmpty)
    assert(merges.forall(_.removedFiles.isEmpty),
      s"MOR merge rewrote files: ${merges.map(_.removedFiles)}")
    assert(silverT.currentSnapshot.get.deleteFiles.nonEmpty)
  }
}
