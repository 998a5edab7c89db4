package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `write.sort.order` (≡ Iceberg sort orders): appends range-cluster on
  * the sort columns, so per-file min/max ranges are DISJOINT and a
  * key-equality merge prunes to exactly one candidate file — the
  * property that turns stats pruning from heuristic into surgical. */
class SortOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sorted append yields disjoint per-file ranges; merge prunes to 1") {
    val root = TestSpark.tmpDir("sortorder") + "/t"
    val df = scala.util.Random.shuffle((1L to 400L).toList)
      .map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_SORT_ORDER -> "id"))
    // AQE would coalesce 400 tiny rows into one range partition — at
    // real scale the ranges split by size; pin it off to observe the
    // multi-file layout locally
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesceKey, "false")
    try t.append(df.repartition(7)) // deliberately scrambled input layout
    finally spark.conf.set(coalesceKey, "true")
    val base = t.currentSnapshot.get
    assert(base.liveFiles.size > 1, "need multiple files to prove ranges")
    // ranges recorded in the manifest must be pairwise disjoint
    val ranges = base.liveFiles.flatMap(f =>
      base.entries(f).stats.get("id")
        .map(cs => (cs.min.toLong, cs.max.toLong)))
    assert(ranges.size == base.liveFiles.size)
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"overlapping file ranges: $sorted")
      case _ =>
    }
    // a single-key merge must consider exactly one candidate file
    val pruned = t.pruneByStats(base,
      Seq((250L, "upd")).toDF("id", "v"), Seq("id"))
    assert(pruned.size == 1, s"expected 1 candidate, got $pruned")
    t.merge(Seq((250L, "upd")).toDF("id", "v"), Seq("id"))
    assert(t.currentSnapshot.get.removedFiles.size == 1)
    assert(t.scan().where($"v" === "upd").count() == 1)
    assert(t.scan().count() == 400)
  }

  test("unsorted table: scrambled append overlaps (the contrast case)") {
    val root = TestSpark.tmpDir("nosort") + "/t"
    val df = scala.util.Random.shuffle((1L to 400L).toList)
      .map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df.repartition(4))
    val base = t.currentSnapshot.get
    val ranges = base.liveFiles.flatMap(f =>
      base.entries(f).stats.get("id")
        .map(cs => (cs.min.toLong, cs.max.toLong))).sortBy(_._1)
    // round-robin shuffle → every file spans nearly the whole domain
    val overlaps = ranges.sliding(2).count {
      case Seq((_, aMax), (bMin, _)) => aMax >= bMin
      case _ => false
    }
    assert(overlaps > 0, "expected overlapping ranges without sort order")
  }

  private def disjointRanges(t: LakeTable): Seq[(Long, Long)] = {
    val base = t.currentSnapshot.get
    val ranges = base.liveFiles.flatMap(f =>
      base.entries(f).stats.get("id")
        .map(cs => (cs.min.toLong, cs.max.toLong)))
    assert(ranges.size == base.liveFiles.size, "file missing id bounds")
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"overlapping file ranges: $sorted")
      case _ =>
    }
    sorted
  }

  test("compact PRESERVES the sort order: per-file bounds stay disjoint") {
    // the maintenance shape for streaming upserts: many sorted
    // micro-batch files accumulate; compaction must keep the declared
    // clustering (Iceberg's sort-order-aware rewrite) or merge pruning
    // degrades from one file back to all files — whichever entry
    // selects the files (the whole table, or a predicate's scope)
    Seq[(String, LakeTable => Long)](
      "compact" -> (_.compact(targetFilesPerPartition = 4)),
      "compactWhere" -> (_.compactWhere(lit(true), 4))
    ).foreach { case (entry, rewrite) =>
      val root = TestSpark.tmpDir(s"sortcompact-$entry") + "/t"
      val df = (1L to 1200L).map(i => (i, s"v$i")).toDF("id", "v")
      val t = LakeTable.create(spark, root, df.schema,
        properties = Map(LakeTable.PROP_SORT_ORDER -> "id"))
      // 6 appends with interleaved key ranges — each internally sorted,
      // but the FILES' ranges overlap across appends
      (0 until 6).foreach { i =>
        t.append(df.where($"id" % 6 === i))
      }
      assert(t.currentSnapshot.get.liveFiles.size >= 6)
      val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
      spark.conf.set(coalesceKey, "false")
      try rewrite(t)
      finally spark.conf.set(coalesceKey, "true")
      val after = t.currentSnapshot.get
      assert(after.liveFiles.size > 1,
        "need multiple post-compact files to prove disjointness")
      disjointRanges(t)
      // and pruning is single-file again
      val pruned = t.pruneByStats(after,
        Seq((600L, "upd")).toDF("id", "v"), Seq("id"))
      assert(pruned.size == 1, s"expected 1 candidate, got $pruned")
      assert(t.scan().count() == 1200)
      assert(t.scan().agg(sum("id")).head().getLong(0) ==
        (1L to 1200L).sum)
    }
  }

  test("binPack on a sort-ordered table packs bins in RANGE order") {
    val root = TestSpark.tmpDir("sortbinpack") + "/t"
    val df = (1L to 900L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_SORT_ORDER -> "id"))
    // 9 small single-range files appended in SCRAMBLED range order:
    // path order ≠ range order, so path-ordered bins would interleave
    Seq(4, 0, 7, 2, 8, 1, 5, 3, 6).foreach { i =>
      t.append(df.where($"id" > i * 100L && $"id" <= (i + 1) * 100L)
        .coalesce(1))
    }
    assert(t.currentSnapshot.get.liveFiles.size == 9)
    val before = t.currentSnapshot.get
    val perFileBytes = before.liveFiles
      .map(before.entries(_).info.bytes).max
    // bins of ~3 input files each
    t.binPack(targetFileBytes = perFileBytes * 3 + 1024)
    val after = t.currentSnapshot.get
    assert(after.liveFiles.size < 9, "binPack did not coalesce")
    assert(after.liveFiles.size > 1,
      "need multiple bins to prove range-ordered packing")
    disjointRanges(t)
    assert(t.scan().count() == 900)
  }

  test("sort order survives schema evolution of unrelated columns") {
    val root = TestSpark.tmpDir("sortevolve") + "/t"
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_SORT_ORDER -> "id"))
    t.append(df)
    t.renameColumn("v", "w")
    t.append((101L to 200L).map(i => (i, s"v$i")).toDF("id", "w"))
    assert(t.scan().count() == 200)
    // a sort column dropped from the schema is ignored, not fatal
    val t2root = TestSpark.tmpDir("sortdrop") + "/t"
    val t2 = LakeTable.create(spark, t2root, df.schema,
      properties = Map(LakeTable.PROP_SORT_ORDER -> "v"))
    t2.append(df)
    t2.dropColumn("v")
    t2.append((101L to 110L).map(i => Tuple1(i)).toDF("id"))
    assert(t2.scan().count() == 110)
  }
}
