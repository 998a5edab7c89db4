package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Write-audit-publish: stageAppend parks data files invisibly,
  * scanStaged audits them, publishStaged commits them file-level
  * (zero rewrite), discardStaged drops them. ≡ Iceberg's wap.id
  * staging + cherry-pick workflow. */
class WapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(root: String) = {
    val df = (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    t
  }

  test("stage is invisible until publish; publish is file-level") {
    val t = freshTable(TestSpark.tmpDir("wap") + "/t")
    val batch = (51L to 70L).map(i => (i, s"v$i")).toDF("id", "v")
    t.stageAppend(batch, "batch-1")
    assert(t.scan().count() == 50) // readers see nothing
    assert(t.stagedIds == Seq("batch-1"))
    // audit the parked rows
    assert(t.scanStaged("batch-1").count() == 20)
    assert(t.scanStaged("batch-1").agg(min($"id")).head().getLong(0) == 51L)
    val filesBefore = t.currentSnapshot.get.liveFiles.toSet
    t.publishStaged("batch-1")
    val snap = t.currentSnapshot.get
    assert(t.scan().count() == 70)
    assert(snap.operation == "append")
    assert(filesBefore.subsetOf(snap.liveFiles.toSet)) // no rewrite
    assert(t.stagedIds.isEmpty)
    // manifest stats came through the staging round-trip: a pruned
    // read on the published range skips the original files
    val pruned = t.pruneByPredicate(snap, col("id") >= 60)
    assert(pruned.toSet.subsetOf(snap.liveFiles.toSet -- filesBefore))
  }

  test("discard removes the parked files; duplicate ids refuse") {
    val t = freshTable(TestSpark.tmpDir("wap-discard") + "/t")
    t.stageAppend(Seq((100L, "x")).toDF("id", "v"), "b")
    intercept[IllegalArgumentException] {
      t.stageAppend(Seq((101L, "y")).toDF("id", "v"), "b")
    }
    t.discardStaged("b")
    assert(t.stagedIds.isEmpty)
    assert(t.scan().count() == 50)
    intercept[IllegalArgumentException] { t.publishStaged("b") }
  }

  test("orphan cleanup never reaps staged files") {
    val t = freshTable(TestSpark.tmpDir("wap-orphan") + "/t")
    t.stageAppend((51L to 60L).map(i => (i, s"v$i")).toDF("id", "v"), "pen")
    // negative age => every unreferenced file qualifies as orphan
    val removed = t.removeOrphanFiles(olderThanMs = -60000L)
    assert(removed.isEmpty, s"reaped staged files: $removed")
    t.publishStaged("pen")
    assert(t.scan().count() == 60)
  }

  test("publish refuses after schema evolution; discard still works") {
    val t = freshTable(TestSpark.tmpDir("wap-evolve") + "/t")
    t.stageAppend(Seq((99L, "x")).toDF("id", "v"), "stale")
    t.addColumn("flag", org.apache.spark.sql.types.StringType)
    intercept[IllegalArgumentException] { t.publishStaged("stale") }
    intercept[IllegalArgumentException] { t.scanStaged("stale") }
    t.discardStaged("stale")
    assert(t.stagedIds.isEmpty)
  }

  test("staged and branch previews on a MOR table equal the published read") {
    val t = LakeTable.create(spark, TestSpark.tmpDir("wap-mor") + "/t",
      Seq((0L, "")).toDF("id", "v").schema,
      properties = graft.pipeline.PipelineDefaults.tablePropertiesMor)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    // an outstanding equality delete on id 3
    t.deleteByKeys(Seq(3L).toDF("id"), Seq("id"))
    assert(t.currentSnapshot.get.deleteFiles.nonEmpty)
    def rows(d: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      d.as[(Long, String)].collect().toSet
    t.stageAppend(Seq((3L, "new3"), (4L, "d")).toDF("id", "v"), "s1")
    t.appendToBranch("br", Seq((3L, "br3")).toDF("id", "v"))
    // the parked id-3 rows are newer than the delete: previews show them
    val staged = rows(t.scanStaged("s1"))
    assert(staged == Set((3L, "new3"), (4L, "d")))
    assert(rows(t.scanBranch("br")) == Set((1L, "a"), (2L, "b"), (3L, "br3")))
    val before = rows(t.scan())
    t.publishStaged("s1")
    assert(rows(t.scan()) == before ++ staged)
    val preview = rows(t.scanBranch("br"))
    t.fastForwardBranch("br")
    assert(rows(t.scan()) == preview)
    assert(preview == Set((1L, "a"), (2L, "b"), (3L, "new3"), (4L, "d"),
      (3L, "br3")))
  }
}
