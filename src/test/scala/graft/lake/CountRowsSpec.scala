package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Metadata-only COUNT(*): with a fully-informed manifest and no
  * outstanding deletes the count is driver arithmetic over manifest
  * record counts — zero data I/O; any delete state falls back to the
  * scan count and stays exact. */
class CountRowsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("count comes from the manifest and matches the scan") {
    val df = (1L to 500L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("cnt") + "/t",
      df.schema)
    t.append(df.repartition(3))
    t.append(df.where($"id" <= 10).repartition(2))
    // manifest carries row counts for every live file -> metadata path
    val snap = t.currentSnapshot.get
    assert(snap.entries.valuesIterator.map(_.info.rows).sum == 510L)
    assert(t.countRows() == 510L)
    assert(t.countRows() == t.scan().count())
  }

  test("SQL COUNT(*) answers from the manifest: no file scan in the plan") {
    val df = (1L to 400L).map(i => (i, s"v$i")).toDF("id", "v")
    val cat = new LakeCatalog(spark, TestSpark.tmpDir("cnt-sql"))
    cat.createNamespace("ns")
    cat.createTable("ns", "t", df.schema)
    cat.loadTable("ns", "t").append(df.repartition(3))
    def hasFileScan(q: org.apache.spark.sql.DataFrame): Boolean = {
      q.collect()
      // descend through AQE wrappers AND materialized query stages
      // (QueryStageExec is a leaf — its inner plan hides from exists)
      def scan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.exists {
          case _: org.apache.spark.sql.execution.FileSourceScanExec => true
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => scan(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => scan(s.plan)
          case _ => false
        }
      scan(q.queryExecution.executedPlan)
    }
    val cnt = cat.sql("ns", "SELECT count(*) AS n FROM t")
    assert(cnt.collect().head.getLong(0) == 400L)
    assert(!hasFileScan(cnt), cnt.queryExecution.executedPlan.toString)

    // filters block the rewrite: normal pruned scan, exact result
    val filtered = cat.sql("ns", "SELECT count(*) AS n FROM t WHERE id <= 10")
    assert(filtered.collect().head.getLong(0) == 10L)
    assert(hasFileScan(filtered))

    // count(col) is null-skipping — answered as Σ rows − recorded
    // nulls from the manifest (ManifestAggSpec covers the null math)
    val colCnt = cat.sql("ns", "SELECT count(v) AS n FROM t")
    assert(colCnt.collect().head.getLong(0) == 400L)
    assert(!hasFileScan(colCnt), colCnt.queryExecution.executedPlan.toString)

    // grouped counts are not rewritten
    val grouped = cat.sql("ns",
      "SELECT id % 2 AS p, count(*) AS n FROM t GROUP BY id % 2")
    assert(grouped.collect().map(_.getLong(1)).sum == 400L)
    assert(hasFileScan(grouped))
  }

  test("SQL COUNT(*) with outstanding MOR deletes scans and stays exact") {
    val df = (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
    val cat = new LakeCatalog(spark, TestSpark.tmpDir("cnt-sqlmor"))
    cat.createNamespace("ns")
    cat.createTable("ns", "t", df.schema)
    val t = cat.loadTable("ns", "t")
    t.setProperties(Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    t.append(df)
    cat.sql("ns", "DELETE FROM t WHERE id <= 5")
    assert(cat.loadTable("ns", "t").currentSnapshot.get
      .posDeleteFiles.nonEmpty ||
      cat.loadTable("ns", "t").currentSnapshot.get.deleteFiles.nonEmpty)
    // the delete anti-join blocks the metadata rewrite by plan shape
    val cnt = cat.sql("ns", "SELECT count(*) AS n FROM t")
    assert(cnt.collect().head.getLong(0) == 45L)
  }

  test("outstanding MOR deletes fall back to an exact scan count") {
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("cnt-mor") + "/t",
      df.schema, properties = Map(
        LakeTable.PROP_MERGE_MODE -> "merge-on-read",
        LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    t.append(df)
    t.deleteByKeys(Seq(1L, 2L, 3L).toDF("id"), Seq("id"))
    assert(t.currentSnapshot.get.deleteFiles.nonEmpty)
    assert(t.countRows() == 97L)
    // compaction folds the deletes in -> metadata path again
    t.compact()
    val snap = t.currentSnapshot.get
    assert(snap.deleteFiles.isEmpty)
    assert(t.countRows() == 97L)
  }

  test("COW delete keeps the metadata path (no delete files)") {
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("cnt-cow") + "/t",
      df.schema)
    t.append(df)
    t.delete(col("id") > 90)
    val snap = t.currentSnapshot.get
    assert(snap.deleteFiles.isEmpty && snap.posDeleteFiles.isEmpty)
    assert(t.countRows() == 90L)
  }
}
