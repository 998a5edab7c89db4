package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Predicate-scoped compaction ([[LakeTable.compactWhere]] /
  * `CALL system.compact_where`): only files the predicate selects via
  * manifest pruning rewrite; everything else keeps its exact file set.
  * Layout-only — content identical, deletes still honored. */
class CompactWhereSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("scoped compact rewrites only the selected partition's files") {
    val df = (1L to 400L).map(i => (i, i % 4, s"v$i")).toDF("id", "p", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("cw") + "/t",
      df.schema, partitionBy = Seq("p"))
    // several appends → several small files per partition dir
    (0 until 3).foreach(k =>
      t.append(df.where($"id" % 3 === k).repartition(2)))
    val before = t.currentSnapshot.get.liveFiles
    val untouched = before.filterNot(_.contains("p=1/"))
    assert(before.count(_.contains("p=1/")) > 1)

    t.compactWhere(col("p") === 1, targetFilesPerPartition = 1)
    val after = t.currentSnapshot.get.liveFiles
    // p=1 coalesced to one file; all other files byte-identical refs
    assert(after.count(_.contains("p=1/")) == 1)
    assert(after.filterNot(_.contains("p=1/")).toSet == untouched.toSet)
    // content identical
    assert(t.scan().as[(Long, Long, String)].collect().toSet ==
      df.as[(Long, Long, String)].collect().toSet)
  }

  test("already-compact groups and non-matching predicates are no-ops") {
    val df = (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("cw-noop") + "/t",
      df.schema)
    t.append(df.coalesce(1))
    val head = t.currentSnapshotId.get
    // single file: nothing to coalesce
    assert(t.compactWhere(lit(true)) == head)
    // bounds-pruned predicate selects nothing
    assert(t.compactWhere(col("id") > 10000L) == head)
  }

  test("whole-table compact of already-compact groups commits nothing; " +
      "a delete artifact or clusterBy still rewrites") {
    val df = (1L to 400L).map(i => (i, i % 4, s"v$i")).toDF("id", "p", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("cw-whole") + "/t",
      df.schema, partitionBy = Seq("p"),
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    t.append(df.repartition(2))
    val head = t.currentSnapshotId.get
    assert(t.currentSnapshot.get.liveFiles.size == 8)
    assert(t.compact(2) == head)
    assert(t.compact(1) != head)
    val compacted = t.currentSnapshotId.get
    assert(t.currentSnapshot.get.liveFiles.size == 4)
    assert(t.compact() == compacted)
    // Z-ordering is a layout change even at one file per group
    assert(t.compact(1, Seq("id")) != compacted)
    // a position delete is folded by the rewrite, not left outstanding
    t.delete(col("id") === 7L)
    assert(t.currentSnapshot.get.deletes.nonEmpty)
    val deleted = t.currentSnapshotId.get
    assert(t.compact() != deleted)
    assert(t.currentSnapshot.get.deletes.isEmpty)
    assert(t.scan().count() == 399L)
  }

  test("outstanding MOR deletes: rewritten rows fold, untouched files keep theirs") {
    val df = (1L to 100L).map(i => (i, i % 2, s"v$i")).toDF("id", "p", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("cw-mor") + "/t",
      df.schema, partitionBy = Seq("p"),
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    (0 until 2).foreach(k =>
      t.append(df.where($"id" % 2 === k).repartition(2)))
    // MOR delete touching BOTH partitions
    t.deleteByKeys((1L to 10L).toDF("id"), Seq("id"))
    assert(t.currentSnapshot.get.deleteFiles.nonEmpty)

    t.compactWhere(col("p") === 0, targetFilesPerPartition = 1)
    // full content correct: deletes applied to rewritten rows at
    // rewrite time AND still applied to untouched files at read time
    assert(t.scan().as[(Long, Long, String)].collect().toSet ==
      df.where($"id" > 10).as[(Long, Long, String)].collect().toSet)
  }

  test("CALL system.compact_where routes through SQL") {
    val df = (1L to 60L).map(i => (i, i % 3, s"v$i")).toDF("id", "p", "v")
    val cat = new LakeCatalog(spark, TestSpark.tmpDir("cw-sql"))
    cat.createNamespace("ns")
    cat.createTable("ns", "t", df.schema, partitionBy = Seq("p"))
    val t = cat.loadTable("ns", "t")
    (0 until 2).foreach(k => t.append(df.where($"id" % 2 === k)))
    val snap = cat.sql("ns",
      "CALL system.compact_where('t', 'p = 2', 1)")
      .collect().head.getLong(0)
    assert(snap > 0)
    val after = cat.loadTable("ns", "t").currentSnapshot.get.liveFiles
    assert(after.count(_.contains("p=2/")) == 1)
    assert(cat.sql("ns", "SELECT count(*) AS n FROM t")
      .collect().head.getLong(0) == 60L)
  }
}
