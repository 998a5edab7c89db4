package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The manifest-backed FileIndex (GraftManifestFileIndex): EVERY read
  * path — plain `scan().where(...)`, SQL text over registered views,
  * joins — prunes files against the manifest (per-file bounds, hidden
  * bucket hashes, Bloom filters) inside Catalyst's planner, with file
  * statuses served from the manifest (no fs listing at plan time). */
class ManifestIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Files the physical scan would actually read under its pushed
    * filters — the planner-eye view, before any row is read. */
  private def plannedFiles(df: DataFrame): Seq[String] = {
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no FileSourceScanExec in plan")
    scans.flatMap(s => s.relation.location
      .listFiles(s.partitionFilters, s.dataFilters)
      .flatMap(_.files.map(_.getPath.toString)))
  }

  test("range predicate on a sorted table plans only the covering file") {
    val root = TestSpark.tmpDir("mfidx-range") + "/t"
    val t = LakeTable.create(spark, root,
      Seq((1L, "v")).toDF("id", "v").schema)
    // four disjoint-range files
    (0 until 4).foreach { b =>
      t.append(((b * 100L + 1) to (b * 100L + 100))
        .map(i => (i, s"r$i")).toDF("id", "v").coalesce(1))
    }
    assert(t.currentSnapshot.get.liveFiles.size == 4)
    val q = t.scan().where($"id" === 250L)
    assert(plannedFiles(q).size == 1,
      s"expected 1 planned file, got ${plannedFiles(q)}")
    assert(q.select("v").as[String].collect().toSeq == Seq("r250"))
    // a predicate outside every file's range plans ZERO files
    assert(plannedFiles(t.scan().where($"id" === 9999L)).isEmpty)
    assert(t.scan().where($"id" === 9999L).count() == 0)
  }

  test("hidden bucket partitioning prunes plain DataFrame filters") {
    val root = TestSpark.tmpDir("mfidx-bucket") + "/t"
    val df = (1L to 400L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      partitionBy = Seq("bucket(8, id)"))
    t.append(df.coalesce(1))
    val files = t.currentSnapshot.get.liveFiles
    assert(files.size == 8, s"expected 8 bucket files, got ${files.size}")
    // NOT scan(predicate) — the plain scan + Catalyst pushdown
    val q = t.scan().where($"id" === 37L)
    val planned = plannedFiles(q)
    assert(planned.size == 1,
      s"bucket pruning should plan 1 of 8 files, planned: $planned")
    assert(q.count() == 1)
  }

  test("SQL text over a registered view inherits manifest pruning") {
    val base = TestSpark.tmpDir("mfidx-sql")
    val cat = new LakeCatalog(spark, base)
    cat.createNamespace("ns")
    val df = (1L to 300L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = cat.createTable("ns", "tbl", df.schema,
      partitionBy = Seq("bucket(4, id)"))
    t.append(df)
    val q = cat.sql("ns", "SELECT v FROM tbl WHERE id = 123")
    assert(q.as[String].collect().toSeq == Seq("v123"))
    assert(plannedFiles(q).size == 1,
      "SQL-text filter should bucket-prune through the view")
  }

  test("pushed literal equality consults per-file Bloom filters") {
    val root = TestSpark.tmpDir("mfidx-bloom") + "/t"
    val t = LakeTable.create(spark, root,
      Seq((java.lang.Long.valueOf(1L), "x")).toDF("id", "v").schema,
      properties = Map(LakeTable.PROP_BLOOM_COLUMNS -> "id"))
    // overlapping ranges, disjoint values: bounds can't separate these
    t.append((2L to 1000L by 2).map(i => (i, s"e$i")).toDF("id", "v")
      .coalesce(1))
    t.append((1L to 999L by 2).map(i => (i, s"o$i")).toDF("id", "v")
      .coalesce(1))
    val q = t.scan().where($"id" === 500L) // even — odd file bloom-pruned
    assert(plannedFiles(q).size == 1,
      "bloom should drop the range-overlapping odd file at plan time")
    assert(q.select("v").as[String].collect().toSeq == Seq("e500"))
    // present keys are never false-negatived end-to-end
    assert(t.scan().where($"id" === 501L).count() == 1)
    // IN over same-parity keys keeps one file; mixed parity keeps both
    val qin = t.scan().where($"id".isin(10L, 20L, 30L))
    assert(plannedFiles(qin).size == 1,
      "all-even IN list should keep only the even file")
    assert(qin.count() == 3)
    val qmix = t.scan().where($"id".isin(10L, 21L))
    assert(plannedFiles(qmix).size == 2)
    assert(qmix.count() == 2)
  }

  test("nullable reads: nulls in a non-nullable-declared column survive") {
    // file sources read under an asNullable schema (a file CAN hold
    // nulls) — a non-nullable long must not turn null into 0
    val root = TestSpark.tmpDir("mfidx-null") + "/t"
    val df = Seq((Option(1L), "a"), (Option.empty[Long], "nullrow"))
      .toDF("k", "v")
    val t = LakeTable.create(spark, root,
      Seq((1L, "a")).toDF("k", "v").schema) // declared non-nullable
    t.append(df)
    assert(t.scan().where($"k".isNull && $"v" === "nullrow").count() == 1)
    assert(t.scan().where($"k" === 1L).count() == 1)
  }

  test("renamed column: filters prune via as-written stats, correctly") {
    val root = TestSpark.tmpDir("mfidx-rename") + "/t"
    val t = LakeTable.create(spark, root,
      Seq((1L, "v")).toDF("id", "v").schema)
    t.append((1L to 100L).map(i => (i, s"a$i")).toDF("id", "v")
      .coalesce(1)) // written under physical name "id"
    t.renameColumn("id", "key")
    t.append((101L to 200L).map(i => (i, s"b$i")).toDF("key", "v")
      .coalesce(1)) // written under physical name "key"
    // filter on the CURRENT name: the pre-rename file's group rewrites
    // the pushed filter to its physical name, matching its stats keys —
    // only the covering file is planned in each era
    val q = t.scan().where($"key" === 150L)
    assert(plannedFiles(q).size == 1,
      s"expected 1 planned file, got ${plannedFiles(q)}")
    assert(q.select("v").as[String].collect().toSeq == Seq("b150"))
    val q2 = t.scan().where($"key" === 50L)
    assert(plannedFiles(q2).size == 1)
    assert(q2.select("v").as[String].collect().toSeq == Seq("a50"))
  }

  test("planned statuses carry manifest sizes (no fs listing needed)") {
    val root = TestSpark.tmpDir("mfidx-size") + "/t"
    val t = LakeTable.create(spark, root,
      Seq((1L, "v")).toDF("id", "v").schema)
    t.append((1L to 50L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val snap = t.currentSnapshot.get
    val rel = snap.liveFiles.head
    val q = t.scan()
    val scan = q.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    val status = scan.relation.location.listFiles(Nil, Nil)
      .flatMap(_.files).find(_.getPath.toString.endsWith(rel)).get
    assert(status.getLen == snap.entries(rel).info.bytes,
      "status length must come from the manifest")
    assert(q.count() == 50)
  }
}
