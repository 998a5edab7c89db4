package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.TestSpark

/** The snapshot-summary cache (`metadata/snaplog.json`) behind
  * `.history`/`.snapshots`: summaries must equal the full per-v-json
  * parse at every point — fresh table, after each mutation shape, on a
  * pure cache hit, after another WRITER's commits (cross-instance
  * reconcile), after expiry, and with the cache file corrupted or
  * deleted (it is a cache: correctness can never depend on it). */
class SnaplogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def summarize(t: LakeTable): Seq[LakeTable.SnapSummary] =
    t.snapshots.map(s => LakeTable.SnapSummary(s.snapshotId, s.parentId,
      s.timestampMs, s.operation, s.addedFiles.size.toLong,
      s.removedFiles.size.toLong, s.liveFiles.size.toLong))

  test("summaries track the full parse through mutations and expiry") {
    val root = TestSpark.tmpDir("snaplog") + "/t"
    val df = (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    assert(t.snapshotSummaries == summarize(t), "fresh table")
    t.append(df.where($"id" <= 20))
    t.append(df.where($"id" > 20))
    assert(t.snapshotSummaries == summarize(t), "after appends")
    // cache hit path (no missing ids) returns the same thing
    assert(t.snapshotSummaries == summarize(t), "cache hit")
    t.merge(df.where($"id" % 5 === 0)
      .withColumn("v", lit("u")), Seq("id"))
    t.delete($"id" % 7 === 0)
    assert(t.snapshotSummaries == summarize(t), "after merge+delete")

    // ANOTHER writer instance commits: this instance's next read must
    // reconcile the ids its cache never saw
    val other = LakeTable.load(spark, root)
    other.append(df.where($"id" === 1L))
    assert(t.snapshotSummaries == summarize(t), "cross-instance")

    // corruption/deletion of the cache only costs a rebuild
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    val log = new Path(root, "metadata/snaplog.json")
    LakeTable.writeStringExclusive(fs,
      new Path(root, "metadata/.snaplog-garbage.json"), "{not json")
    fs.delete(log, false)
    assert(t.snapshotSummaries == summarize(t), "cache deleted")
    assert(fs.exists(log), "rebuild did not persist the cache")

    t.expireSnapshots(2)
    val afterExpire = t.snapshotSummaries
    assert(afterExpire == summarize(t), "after expiry")
    assert(afterExpire.size < 6, "expiry did not shrink the view")
    // history/snapshots views agree with the summaries
    assert(t.history.count() == afterExpire.size)
    assert(t.snapshotsTable.select(sum($"n_live_files")).head().getLong(0)
      == afterExpire.map(_.nLive).sum)
  }

  test("expiry rewrites the cache down to the retained snapshots") {
    val root = TestSpark.tmpDir("snaplog-expire") + "/t"
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    (1L to 10L).foreach(i => t.append(df.where($"id" === i)))
    assert(t.history.count() == 11) // caches all eleven summaries
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    val log = new Path(root, "metadata/snaplog.json")
    def cachedIds: Seq[Long] = {
      val in = fs.open(log)
      val n = try Snapshot.mapper.readTree(in) finally in.close()
      n.path("entries").elements().asScala.map(_.path("id").asLong()).toSeq
    }
    assert(cachedIds == (1L to 11L))
    t.expireSnapshots(1)
    assert(cachedIds == t.snapshots.map(_.snapshotId))
    assert(cachedIds == Seq(11L))
    assert(t.snapshotSummaries == summarize(t))
  }
}
