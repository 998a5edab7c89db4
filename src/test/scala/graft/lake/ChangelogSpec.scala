package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Row-level CDC changelog (≡ Iceberg create_changelog_view): per
  * commit, inserts/deletes derived from the commit's file delta
  * (byte-identical carried rows cancel), with MOR delete-file commits
  * diffing the carried files' visibility for their pre-image rows. */
class ChangelogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot = TestSpark.tmpDir("changelog") + "/t"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "v", "_change_type", "_commit_snapshot_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq.sorted

  test("append emits inserts only") {
    val root = freshRoot
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    val s1 = t.append(df)
    assert(rows(t.changes(1L, s1)) == Seq(
      (1L, "a", "insert", 2L), (2L, "b", "insert", 2L)))
  }

  test("COW delete emits pre-image deletes; carried rows cancel") {
    val root = freshRoot
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    val s1 = t.append(df.repartition(1))
    val s2 = t.delete($"id" <= 3L)
    val got = rows(t.changes(s1, s2))
    assert(got == Seq((1L, "v1", "delete", 3L), (2L, "v2", "delete", 3L),
      (3L, "v3", "delete", 3L)),
      s"carried rows must cancel, got $got")
  }

  test("COW update emits delete+insert pairs for changed rows only") {
    val root = freshRoot
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    val s1 = t.append(df.repartition(1))
    val s2 = t.update($"id" === 5L, Map("v" -> lit("NEW")))
    assert(rows(t.changes(s1, s2)) == Seq(
      (5L, "NEW", "insert", 3L), (5L, "v5", "delete", 3L)))
  }

  test("MOR keyed delete emits suppressed pre-image rows as deletes") {
    val root = freshRoot
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    val s1 = t.append(df.repartition(2))
    val s2 = t.deleteByKeys(Seq(4L, 9L).toDF("id"), Seq("id"))
    assert(t.currentSnapshot.get.deleteFiles.nonEmpty)
    assert(rows(t.changes(s1, s2)) == Seq(
      (4L, "v4", "delete", 3L), (9L, "v9", "delete", 3L)))
  }

  test("MOR merge emits after-image inserts plus pre-image deletes") {
    val root = freshRoot
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_MERGE_MODE -> "merge-on-read"))
    val s1 = t.append(df.repartition(1))
    val s2 = t.merge(Seq((5L, "UPD"), (99L, "INS")).toDF("id", "v"),
      Seq("id"))
    assert(rows(t.changes(s1, s2)) == Seq(
      (5L, "UPD", "insert", 3L), (5L, "v5", "delete", 3L),
      (99L, "INS", "insert", 3L)))
  }

  test("MOR position delete emits its pre-image deletes") {
    val root = freshRoot
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    val s1 = t.append(df.repartition(2))
    val s2 = t.delete($"id" % 5L === 0L) // position deletes
    assert(t.currentSnapshot.get.posDeleteFiles.nonEmpty)
    assert(rows(t.changes(s1, s2)) == Seq(
      (5L, "v5", "delete", 3L), (10L, "v10", "delete", 3L)))
  }

  test("rewrite-deletes is content-neutral: a range through " +
      "consolidate and convert emits exactly the deletes' rows, and " +
      "the maintenance snapshot alone reads no data file") {
    val root = freshRoot
    val df = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema, properties = Map(
      LakeTable.PROP_DELETE_MODE -> "merge-on-read",
      LakeTable.PROP_ROW_LINEAGE -> "true"))
    val s1 = t.append(df.repartition(2))
    t.deleteByKeys(Seq(4L, 9L).toDF("id"), Seq("id")) // equality
    t.delete($"id" % 5L === 0L) // position
    val s4 = t.consolidateDeleteVectors()
    val s5 = t.convertEqualityDeletes()
    assert(Seq(s4, s5).map(t.snapshot(_).operation) ==
      Seq("rewrite-deletes", "rewrite-deletes"))
    val expect = Seq((4L, "v4", "delete", 3L), (5L, "v5", "delete", 4L),
      (9L, "v9", "delete", 3L), (10L, "v10", "delete", 4L),
      (15L, "v15", "delete", 4L), (20L, "v20", "delete", 4L))
    assert(rows(t.changes(s1, s5)) == expect)
    assert(rows(t.changesWithLineage(s1, s5)) == expect)
    Seq(s4, s5).foreach { s =>
      val cl = t.changes(s - 1, s)
      assert(cl.inputFiles.isEmpty,
        s"rewrite-deletes snapshot $s read ${cl.inputFiles.toSeq}")
      assert(cl.count() == 0)
    }
  }

  test("compact is content-neutral; schema-changing commits are rejected") {
    val root = freshRoot
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    val s1 = t.append(df.repartition(2))
    val s2 = t.compact()
    assert(t.changes(s1, s2).count() == 0)
    // a content-neutral rollback (compact undone) also emits nothing —
    // the file-delta diffs cancel row for row
    val s3 = t.rollbackTo(s1)
    assert(t.changes(s2, s3).count() == 0)
    t.addColumn("flag", org.apache.spark.sql.types.StringType)
    intercept[UnsupportedOperationException](
      t.changes(s3, t.currentSnapshotId.get))
  }

  test("rollback emits resurrect-inserts and un-append deletes") {
    val root = freshRoot
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    val s1 = t.append(df.repartition(2))
    t.deleteByKeys(Seq(3L).toDF("id"), Seq("id")) // MOR: delete file only
    val s3 = t.append(Seq((100L, "late")).toDF("id", "v"))
    val s4 = t.rollbackTo(s1)
    // the rollback undoes BOTH: the appended row leaves (delete, via the
    // removed-file diff) and the MOR-deleted row returns (insert, via
    // the carried-file visibility diff)
    assert(rows(t.changes(s3, s4)) == Seq(
      (3L, "v3", "insert", 5L), (100L, "late", "delete", 5L)))
    assert(t.scan().count() == 10)
  }

  test("metadata delete emits its dropped rows as changelog deletes") {
    val root = freshRoot
    val t = LakeTable.create(spark, root,
      Seq((1L, "v")).toDF("id", "v").schema)
    t.append((1L to 5L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t.append((11L to 15L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val pre = t.currentSnapshotId.get
    t.delete($"id" <= 5L) // file 1 fully covered → zero-write commit
    assert(t.currentSnapshot.get.addedFiles.isEmpty)
    val ch = t.changes(pre, t.currentSnapshotId.get)
    assert(ch.where($"_change_type" === "delete").select("id")
      .as[Long].collect().sorted.toSeq == (1L to 5L))
    assert(ch.where($"_change_type" === "insert").count() == 0)
  }

  test("changelog replays to the final table state (multiset algebra)") {
    val root = freshRoot
    val df = (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    t.append(df.repartition(3))
    t.deleteByKeys((1L to 50L by 10).toDF("id"), Seq("id"))
    t.update($"id" % 7L === 0L, Map("v" -> concat(lit("U"), $"id")))
    t.append(Seq((100L, "late")).toDF("id", "v"))
    val ch = t.changes(1L, t.currentSnapshotId.get)
    val replayed = ch.where($"_change_type" === "insert").select("id", "v")
      .exceptAll(ch.where($"_change_type" === "delete").select("id", "v"))
    assert(replayed.orderBy("id").collect().toSeq ==
      t.scan().orderBy("id").collect().toSeq)
  }
}
