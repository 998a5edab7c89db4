package graft.lake

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Snapshot.deletes]] is one record list in canonical order: the
  * snapshot a commit builds (a warm handle's) equals the one the codec
  * decodes (a cold handle's), order included, through every op that
  * changes the delete state. The `!=` delete-state checks in
  * `changes`, the Iceberg delta-mode export and the Delta
  * insert-only test rely on it. */
class DeleteListSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("warm and cold handles agree on deletes (order included) and " +
      "scan through a mixed delete-artifact sequence") {
    val root = TestSpark.tmpDir("delete-list") + "/t"
    val df = (1L to 60L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema, properties = Map(
      LakeTable.PROP_MERGE_MODE -> "merge-on-read",
      LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    t.append(df.repartition(3))
    // the kinds in list order, runs of one kind collapsed (a delete
    // can write several part files)
    def kinds(s: Snapshot) = s.deletes.map(_.getClass.getSimpleName)
      .foldRight(List.empty[String])((k, acc) =>
        if (acc.headOption.contains(k)) acc else k :: acc)
    def check(step: String): Unit = {
      val warm = t.currentSnapshot.get
      val cold = LakeTable.load(spark, root).currentSnapshot.get
      assert(warm.snapshotId == cold.snapshotId, step)
      assert(warm.deletes == cold.deletes,
        s"$step: warm ${warm.deletes} != cold ${cold.deletes}")
      val key = t.schema.fieldNames.head
      assert(t.scan().orderBy(key).collect().toSeq ==
        LakeTable.load(spark, root).scan().orderBy(key).collect().toSeq,
        step)
    }
    t.merge(Seq((5L, "U5"), (99L, "I99")).toDF("id", "v"), Seq("id"))
    check("MOR merge")
    t.delete($"id" % 7L === 0L)
    check("MOR delete")
    t.consolidateDeleteVectors()
    check("consolidate")
    val consolidated = t.currentSnapshotId.get
    t.delete($"id" % 11L === 0L)
    check("second MOR delete")
    assert(kinds(t.currentSnapshot.get) ==
      Seq("DeleteFile", "PosDeleteFile", "DvFile"))
    t.convertEqualityDeletes()
    // the converted positions are appended after the vector, and the
    // commit puts them back in kind order
    assert(kinds(t.currentSnapshot.get) == Seq("PosDeleteFile", "DvFile"))
    check("convert")
    t.merge(Seq((6L, "U6")).toDF("id", "v"), Seq("id"))
    t.renameColumn("id", "key")
    val renamed = t.currentSnapshot.get.deleteFiles
    assert(renamed.nonEmpty && renamed.forall(_.keys == Seq("key")))
    check("rename key")
    t.rollbackTo(consolidated)
    check("rollback")
    t.compact()
    assert(t.currentSnapshot.get.deletes.isEmpty)
    check("compact")
  }
}
