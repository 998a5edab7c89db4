package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.lake.LakeCatalog
import graft.pipeline.GoldenFixture

class StreamingRawToBronzeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming ingest: Spark's file tracking picks up only new drops") {
    val base = TestSpark.tmpDir("stream-bronze")
    val raw = s"$base/raw"
    val cat = new LakeCatalog(spark, s"$base/wh")
    val job = new StreamingRawToBronze(spark, cat, raw,
      s"$base/ckpt", "ns", "bronze")

    GoldenFixture.land(GoldenFixture.Inserts, raw)
    assert(job.run() == 5)
    assert(cat.loadTable("ns", "bronze").scan().count() == 5)

    // second run with no new files: nothing re-ingested
    assert(job.run() == 0)

    // update drop: only the new file is read (no mtime bookkeeping here —
    // the streaming checkpoint tracks seen files)
    GoldenFixture.land(GoldenFixture.Updates, raw)
    assert(job.run() == 2)
    val bronze = cat.loadTable("ns", "bronze").scan()
    assert(bronze.count() == 7)
    assert(bronze.columns.contains("input_file") &&
      bronze.columns.contains("processed_date"))
  }
}
