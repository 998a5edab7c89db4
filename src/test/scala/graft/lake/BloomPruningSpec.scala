package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Per-file Bloom pruning (see [[BloomStats]]): range bounds cannot
  * separate files whose key ranges all overlap; the bloom can. */
class BloomPruningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val props = Map(LakeTable.PROP_BLOOM_COLUMNS -> "id")

  /** Two files with fully OVERLAPPING id ranges but disjoint values:
    * evens in one, odds in the other — min/max pruning is blind here. */
  private def overlapTable(root: String) = {
    val t = LakeTable.create(spark, root,
      Seq((java.lang.Long.valueOf(1L), "x")).toDF("id", "v").schema,
      properties = props)
    t.append((2L to 1000L by 2).map(i => (i, s"e$i")).toDF("id", "v")
      .coalesce(1))
    t.append((1L to 999L by 2).map(i => (i, s"o$i")).toDF("id", "v")
      .coalesce(1))
    t
  }

  test("bloom separates range-overlapping files; merge rewrites one file") {
    val t = overlapTable(TestSpark.tmpDir("bloom") + "/t")
    val snap = t.currentSnapshot.get
    assert(snap.liveFiles.size == 2)
    // both files carry a bloom entry
    assert(snap.liveFiles.forall(f =>
      snap.entries(f).stats.contains(BloomStats.statKey("id"))))
    // an even-key source prunes the odd file BEFORE any data is read
    val evenSrc = Seq((500L, "U")).toDF("id", "v")
    val pruned = t.pruneByStats(snap, evenSrc.select("id"), Seq("id"))
    assert(pruned.size == 1, s"bloom kept ${pruned.size} of 2 files")
    // end-to-end: the merge rewrites only the even file
    val before = snap.liveFiles.toSet
    t.merge(evenSrc, Seq("id"))
    val after = t.currentSnapshot.get
    assert(after.removedFiles.size == 1)
    assert(t.scan().where($"id" === 500L).select("v").as[String]
      .collect().toSeq == Seq("U"))
    assert(t.scan().count() == 1000)
    // the odd file survived untouched
    assert(after.liveFiles.toSet.intersect(before).size == 1)
  }

  test("predicate pruning consults the blooms, as scans do") {
    val t = overlapTable(TestSpark.tmpDir("bloom-pred") + "/t")
    val snap = t.currentSnapshot.get
    val evenFile = snap.liveFiles.find(f =>
      t.pruneByStats(snap, Seq(500L).toDF("id"), Seq("id")) == Seq(f)).get
    // both files span the key range, so bounds keep both; the literal's
    // bloom probe keeps only the file that may hold it — the selection
    // predicate DELETE/UPDATE, overwriteWhere and compactWhere act on
    assert(t.pruneByPredicate(snap, col("id") === 500L) == Seq(evenFile))
    assert(t.pruneByPredicate(snap, col("id").isin(500L, 502L)) ==
      Seq(evenFile))
    assert(t.pruneByPredicate(snap, col("id") === 501L).size == 1)
    assert(!t.pruneByPredicate(snap, col("id") === 501L).contains(evenFile))
    // a predicate delete through that selection stays exact
    t.delete(col("id") === 500L)
    assert(t.scan().count() == 999)
    assert(t.scan().where($"id" === 500L).count() == 0)
  }

  test("bloom never false-negatives: every present key finds its file") {
    val t = overlapTable(TestSpark.tmpDir("bloom-fn") + "/t")
    val snap = t.currentSnapshot.get
    (1L to 50L).foreach { k =>
      val pruned = t.pruneByStats(snap,
        Seq(k).toDF("id"), Seq("id"))
      assert(pruned.nonEmpty, s"key $k pruned away its own file")
    }
    // a key in NEITHER file may prune everything (that is the point)
    val ghost = t.pruneByStats(snap, Seq(5000L).toDF("id"), Seq("id"))
    assert(ghost.size <= 1)
  }

  test("saturated filters are dropped, pruning degrades to bounds") {
    // 600 distinct values vs a 1024-bit filter -> ~4x saturated
    val p = props + (LakeTable.PROP_BLOOM_BITS -> "1024")
    val df = (1L to 600L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark,
      TestSpark.tmpDir("bloom-sat") + "/t", df.schema, properties = p)
    t.append(df.coalesce(1))
    val snap = t.currentSnapshot.get
    assert(snap.liveFiles.forall(f =>
      !snap.entries(f).stats.contains(BloomStats.statKey("id"))))
    // still correct, just unpruned
    t.merge(Seq((300L, "U")).toDF("id", "v"), Seq("id"))
    assert(t.scan().where($"id" === 300L).select("v").as[String]
      .collect().toSeq == Seq("U"))
  }

  test("blooms stay out of the .files bounds and survive the chunk round-trip") {
    val t = overlapTable(TestSpark.tmpDir("bloom-files") + "/t")
    // metadata view: no __bloom__ keys in bounds
    val bounds = t.files.select("bounds").collect()
      .flatMap(_.getMap[String, Any](0).keys)
    assert(!bounds.exists(_.startsWith(BloomStats.Prefix)))
    // a RELOADED table (fresh chunk parse) still bloom-prunes
    val t2 = LakeTable.load(spark, t.root)
    val snap2 = t2.currentSnapshot.get
    val pruned = t2.pruneByStats(snap2,
      Seq(500L).toDF("id"), Seq("id"))
    assert(pruned.size == 1)
  }

  test("null-key and oversized sources fall back safely") {
    val t = overlapTable(TestSpark.tmpDir("bloom-null") + "/t")
    val snap = t.currentSnapshot.get
    // all-null keys: nothing can match; merge treats them as inserts
    t.merge(Seq((null.asInstanceOf[java.lang.Long], "ins"))
      .toDF("id", "v"), Seq("id"))
    assert(t.scan().count() == 1001)
    assert(t.scan().where($"id".isNull).count() == 1)
    // compaction folds both parity files into one; blooms of rewritten
    // files are rebuilt by the write path
    t.compact()
    val after = t.currentSnapshot.get
    assert(after.liveFiles.forall(f =>
      after.entries(f).stats.contains(BloomStats.statKey("id"))))
  }
}
