package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Size-aware binpack compaction ([[LakeTable.binPack]]): small files
  * coalesce toward the byte target, right-sized files never rewrite —
  * write amplification bounded by the small-file fraction, candidate
  * selection pure manifest arithmetic. */
class BinPackSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot = TestSpark.tmpDir("binpack") + "/t"

  test("small files coalesce; the right-sized file survives untouched") {
    val root = freshRoot
    val small = (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, small.schema)
    (0 until 3).foreach { k =>
      t.append(small.withColumn("id", col("id") + lit(k * 10L)).coalesce(1))
    }
    val big = (1000L to 6000L).map(i => (i, "x" * 50)).toDF("id", "v")
    t.append(big.coalesce(1))
    val before = t.currentSnapshot.get
    assert(before.liveFiles.size == 4)
    val bigFile = before.liveFiles.maxBy(f => before.entries(f).info.bytes)
    val target = before.entries(bigFile).info.bytes // tiny files are under it
    val expect = t.scan().collect().map(_.toSeq.toString).sorted

    t.binPack(target)
    val after = t.currentSnapshot.get
    assert(after.liveFiles.size == 2, s"3 smalls -> 1 bin: ${after.liveFiles}")
    assert(after.liveFiles.contains(bigFile),
      "the right-sized file must NOT be rewritten")
    assert(t.scan().collect().map(_.toSeq.toString).sorted.sameElements(expect))
    // nothing left to do: second pass is a pure no-op commit-wise
    val sid = t.currentSnapshotId.get
    assert(t.binPack(target) == sid)
  }

  test("bins never cross partition directories") {
    val root = freshRoot
    val df = (1L to 20L).map(i => (i, (i % 2).toString)).toDF("id", "p")
    val t = LakeTable.create(spark, root, df.schema,
      partitionBy = Seq("p"))
    // 3 appends x 2 partitions = 6 small files
    (0 until 3).foreach(k =>
      t.append(df.withColumn("id", col("id") + lit(k * 100L)).coalesce(1)))
    val expect = t.scan().collect().map(_.toSeq.toString).sorted
    assert(t.currentSnapshot.get.liveFiles.size == 6)
    t.binPack(1L << 20)
    val after = t.currentSnapshot.get.liveFiles
    assert(after.size == 2, s"one bin per partition dir: $after")
    assert(after.forall(f => f.contains("p=0/") || f.contains("p=1/")))
    assert(t.scan().collect().map(_.toSeq.toString).sorted.sameElements(expect))
  }

  test("outstanding MOR deletes stay correct through a partial rewrite") {
    val root = freshRoot
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map("write.merge.mode" -> "merge-on-read"))
    (0 until 2).foreach(k =>
      t.append(df.withColumn("id", col("id") + lit(k * 100L)).coalesce(1)))
    // equality-delete files against keys living in BOTH data files
    t.merge(Seq((1L, "ONE"), (101L, "HUNDRED-ONE")).toDF("id", "v"),
      Seq("id"))
    assert(t.currentSnapshot.get.deleteFiles.nonEmpty)
    val expect = t.scan().collect().map(_.toSeq.toString).sorted
    t.binPack(1L << 20)
    assert(t.currentSnapshot.get.liveFiles.nonEmpty)
    assert(t.scan().collect().map(_.toSeq.toString).sorted.sameElements(expect),
      "rewritten rows fold the deletes; nothing re-suppresses them")
    // both small files packed into one bin: every live file rewrote, so
    // the folded delete files retire with them
    assert(t.currentSnapshot.get.deleteFiles.isEmpty,
      "a rewrite of every live file leaves no delete artifact behind")
  }

  test("CALL rewrite_small_files drives binPack through SQL") {
    val cat = new LakeCatalog(spark, TestSpark.tmpDir("binpack-sql"))
    cat.createNamespace("ns")
    val df = (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v")
    cat.createTable("ns", "t", df.schema)
    val lt = cat.loadTable("ns", "t")
    (0 until 3).foreach(k =>
      lt.append(df.withColumn("id", col("id") + lit(k * 10L)).coalesce(1)))
    cat.sql("ns", "CALL system.rewrite_small_files('t', 1048576)")
    assert(cat.loadTable("ns", "t").currentSnapshot.get.liveFiles.size == 1)
    assert(cat.sql("ns", "SELECT count(*) AS n FROM t").head.getLong(0) == 15)
  }
}
