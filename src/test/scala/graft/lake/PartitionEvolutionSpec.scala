package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Partition evolution (≡ Iceberg spec evolution): future writes
  * change layout, history is never rewritten, scans union the layout
  * eras, and compaction migrates lazily. */
class PartitionEvolutionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot = TestSpark.tmpDir("evolve-spec") + "/t"

  test("unpartitioned -> partitioned: both eras scan, new files use hive dirs") {
    val root = freshRoot
    val df = (1 to 100).map(i => (i.toLong, s"v$i", i % 4)).toDF("id", "v", "p")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df.where($"id" <= 50))
    val evolveId = t.evolvePartitionSpec(Seq("p"))
    assert(t.partitionColumns == Seq("p"))
    t.append(df.where($"id" > 50))
    // era layouts on disk: old files flat, new files under p=
    val snap = t.currentSnapshot.get
    val (newEra, oldEra) = snap.liveFiles.partition(f =>
      snap.entries(f).specId != 0L)
    assert(oldEra.nonEmpty && newEra.nonEmpty)
    assert(oldEra.forall(!_.contains("p=")))
    assert(newEra.forall(_.contains("p=")))
    // full scan unions the eras; values identical to the plain union
    assert(t.scan().count() == 100)
    assert(t.scan().where($"p" === 2).count() == 25)
    assert(t.scan().orderBy("id").collect().map(_.getLong(0)).toSeq ==
      (1L to 100L))
    // time travel to before the evolution reads the old layout alone
    assert(t.scanAt(evolveId - 1).count() == 50)
    // incremental scan across the evolve commit is transparent
    assert(t.incrementalScan(evolveId, t.currentSnapshotId.get).count() == 50)
  }

  test("merge and delete work across mixed spec eras") {
    val root = freshRoot
    val df = (1 to 60).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "p")
    val t = LakeTable.create(spark, root, df.schema, Seq("p"))
    t.append(df.where($"id" <= 30))
    t.evolvePartitionSpec(Seq("bucket(4, id)"))
    t.append(df.where($"id" > 30))
    // merge touches keys in BOTH eras
    t.merge(Seq((10L, "OLD-ERA", 1), (40L, "NEW-ERA", 1))
      .toDF("id", "v", "p"), Seq("id"))
    val got = t.scan().where($"v".startsWith("OLD") || $"v".startsWith("NEW"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((10L, "OLD-ERA"), (40L, "NEW-ERA")))
    assert(t.scan().count() == 60)
    // predicate delete spanning both eras
    t.delete($"id" % 10 === 0)
    assert(t.scan().count() == 54)
    assert(t.scan().where($"id" === 10L).count() == 0)
  }

  test("compact migrates every file to the current spec") {
    val root = freshRoot
    val df = (1 to 40).map(i => (i.toLong, i % 2)).toDF("id", "p")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df.where($"id" <= 20))
    t.evolvePartitionSpec(Seq("p"))
    t.append(df.where($"id" > 20))
    t.compact()
    val snap = t.currentSnapshot.get
    assert(snap.liveFiles.forall(_.contains("p=")),
      s"compact left old-layout files: ${snap.liveFiles}")
    assert(snap.liveFiles.forall(f =>
      snap.entries(f).specId == snap.currentSpecId))
    assert(t.scan().count() == 40)
  }

  test("evolve A->B->A reuses the registered spec id") {
    val root = freshRoot
    val df = Seq((1L, 1)).toDF("id", "p")
    val t = LakeTable.create(spark, root, df.schema, Seq("p"))
    t.evolvePartitionSpec(Seq("bucket(2, id)"))
    t.evolvePartitionSpec(Seq("p"))
    val snap = t.currentSnapshot.get
    assert(snap.currentSpecId == 0L) // back to the creation spec's id
    assert(snap.specsOrDefault.keySet == Set(0L, 1L))
    // no-op evolve commits nothing
    val head = t.currentSnapshotId.get
    assert(t.evolvePartitionSpec(Seq("p")) == head)
  }

  test("rollback across an evolution restores the old spec") {
    val root = freshRoot
    val df = (1 to 20).map(i => (i.toLong, i % 2)).toDF("id", "p")
    val t = LakeTable.create(spark, root, df.schema)
    val s1 = t.append(df.where($"id" <= 10))
    t.evolvePartitionSpec(Seq("p"))
    t.append(df.where($"id" > 10))
    t.rollbackTo(s1)
    assert(t.partitionColumns == Nil)
    assert(t.currentSnapshot.get.currentSpecId == 0L)
    assert(t.scan().count() == 10)
    // and forward writes after the rollback use the restored spec
    t.append(df.where($"id" > 10))
    assert(t.currentSnapshot.get.liveFiles.forall(!_.contains("p=")))
    assert(t.scan().count() == 20)
  }

  test("rename/drop of ANY era's partition source is refused") {
    val root = freshRoot
    val df = Seq((1L, 1, "x")).toDF("id", "p", "v")
    val t = LakeTable.create(spark, root, df.schema, Seq("p"))
    t.append(df)
    t.evolvePartitionSpec(Seq("bucket(2, id)"))
    // p is only a HISTORICAL spec's source now — still protected
    intercept[IllegalArgumentException](t.renameColumn("p", "q"))
    intercept[IllegalArgumentException](t.dropColumn("p"))
    intercept[IllegalArgumentException](t.renameColumn("id", "id2"))
    t.renameColumn("v", "w") // non-source columns still evolve freely
    assert(t.schema.fieldNames.contains("w"))
  }

  test("append retry refuses a concurrent partition-spec evolution") {
    val root = freshRoot
    val df = Seq((1L, "a", 1)).toDF("id", "v", "p")
    LakeTable.create(spark, root, df.schema)
    val t1 = LakeTable.load(spark, root)
    val t2 = LakeTable.load(spark, root)
    t1.append(df)
    // the interleaved commit changes the partition spec: t1's staged
    // files were written under the OLD layout — a blind retry would
    // commit wrong-era files tagged with the new spec, so it must
    // surface the conflict for recomputation instead
    var fired = false
    t1.beforeCommitHook = () => if (!fired) {
      fired = true
      t2.evolvePartitionSpec(Seq("p"))
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        t1.append(Seq((2L, "b", 2)).toDF("id", "v", "p"))
      }
    } finally t1.beforeCommitHook = () => ()
    val t3 = LakeTable.load(spark, root)
    assert(t3.partitionColumns == Seq("p"))
    assert(t3.scan().count() == 1)
  }

  test("evolution survives the chunked-manifest round trip") {
    val root = freshRoot
    val df = (1 to 10).map(i => (i.toLong, i % 2)).toDF("id", "p")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    t.evolvePartitionSpec(Seq("p"))
    t.append(df.withColumn("id", $"id" + 10))
    // a FRESH handle re-reads everything through the list + chunks
    val t2 = LakeTable.load(spark, root)
    val snap = t2.currentSnapshot.get
    assert(snap.currentSpecId == 1L)
    assert(snap.specsOrDefault == Map(0L -> Nil, 1L -> Seq("p")))
    val specIds = snap.entries.values.map(_.specId).toSeq
    assert(specIds.toSet == Set(0L, 1L))
    assert(specIds.count(_ == 1L) < snap.liveFiles.size) // era-0 files
    assert(t2.scan().count() == 20)
  }
}
