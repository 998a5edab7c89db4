package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Predicate DELETE/UPDATE must intersect simple comparison predicates
  * with the manifest stats BEFORE the locating scan — at 100 TB, the
  * difference between a full-table scan per DELETE and one proportional
  * to the touched range. Pruning must stay strictly conservative. */
class PredicatePruningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def partitionedTable() = {
    val root = TestSpark.tmpDir("predprune") + "/t"
    val df = (1L to 90L).map(i => (i, s"v$i", s"p${i % 3}"))
      .toDF("id", "v", "p")
    val t = LakeTable.create(spark, root, df.schema, Seq("p"))
    t.append(df)
    t
  }

  test("partition-equality delete considers only that partition's files") {
    val t = partitionedTable()
    val base = t.currentSnapshot.get
    val candidates = t.pruneByPredicate(base, $"p" === "p1")
    assert(candidates.nonEmpty)
    assert(candidates.forall(_.contains("p=p1")),
      s"candidates outside p=p1: $candidates")
    assert(candidates.size < base.liveFiles.size)
    // end-to-end: the delete rewrites only p=p1 files and is correct
    t.delete($"p" === "p1")
    val snap = t.currentSnapshot.get
    assert(snap.removedFiles.nonEmpty)
    assert(snap.removedFiles.forall(_.contains("p=p1")),
      s"rewrote outside the partition: ${snap.removedFiles}")
    assert(t.scan().where($"p" === "p1").count() == 0)
    assert(t.scan().count() == 60)
  }

  test("range predicate prunes by data-column bounds (both literal sides)") {
    val root = TestSpark.tmpDir("predprune-rng") + "/t"
    val b1 = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, b1.schema)
    t.append(b1.repartition(1))
    t.append((101L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(1))
    val base = t.currentSnapshot.get
    assert(base.liveFiles.size == 2)
    def cand(c: org.apache.spark.sql.Column) =
      t.pruneByPredicate(base, c)
    assert(cand($"id" > 150L).size == 1)
    assert(cand($"id" <= 100L).size == 1)
    assert(cand(lit(150L) < $"id").size == 1) // flipped literal side
    assert(cand($"id" === 150L).size == 1)
    assert(cand($"id".isin(5L, 42L)).size == 1)
    assert(cand($"id" === 500L).isEmpty) // out of every range
    assert(cand($"id" > 150L && $"v" === "v175").size == 1) // AND
    // AND where one conjunct matches nothing anywhere: prunes to zero
    assert(cand($"id" > 150L && $"v" === "anything").isEmpty)
    assert(cand($"id" < 50L || $"id" > 150L).size == 2) // OR unions
    // update path end-to-end: only the matching file is rewritten
    t.update($"id" > 150L, Map("v" -> lit("HI")))
    val snap = t.currentSnapshot.get
    assert(snap.removedFiles.size == 1)
    assert(t.scan().where($"v" === "HI").count() == 50)
  }

  test("unsupported predicate shapes keep every file (conservative)") {
    val t = partitionedTable()
    val base = t.currentSnapshot.get
    def cand(c: org.apache.spark.sql.Column) =
      t.pruneByPredicate(base, c)
    assert(cand(length($"v") > 2).size == base.liveFiles.size)
    assert(cand(!($"p" === "p1")).size == base.liveFiles.size) // NOT
    // IS NULL prunes NOW: `__nulls__` stats prove zero nulls per file
    // (identity-partition dirs included) — no file can match
    assert(cand($"p".isNull).isEmpty)
    // …and stays conservative when null counts are absent
    val noNulls = base.copy(entries = Snapshot.index(base.entries.values
      .map(e => e.copy(stats =
        e.stats.filterNot(kv => FileStats.isNullsKey(kv._1))))))
    assert(t.pruneByPredicate(noNulls, $"p".isNull).size ==
      base.liveFiles.size)
    assert(cand($"id".cast("string") === "5").size == base.liveFiles.size)
    // string literal against a long column: the analyzer's coercion
    // folds it to a typed constant, so this PRUNES (and stays correct —
    // id=5 exists, so candidates are non-empty)
    assert(cand($"id" === "5").nonEmpty)
  }

  test("delete with an out-of-range predicate is a no-op commit-wise") {
    val t = partitionedTable()
    val before = t.currentSnapshotId.get
    t.delete($"id" > 10000L)
    assert(t.currentSnapshotId.get == before,
      "out-of-range delete should not commit a new snapshot")
    assert(t.scan().count() == 90)
  }

  test("timestamp and date range predicates prune") {
    val root = TestSpark.tmpDir("predprune-ts") + "/t"
    val b1 = (1L to 48L).map(i => (i,
      java.sql.Timestamp.valueOf(f"2024-01-01 ${i % 24}%02d:00:00"),
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
        .plusDays(i % 28)))).toDF("id", "ts", "d")
    val t = LakeTable.create(spark, root, b1.schema)
    t.append(b1.repartition(1))
    t.append((49L to 96L).map(i => (i,
      java.sql.Timestamp.valueOf(f"2025-06-01 ${i % 24}%02d:00:00"),
      java.sql.Date.valueOf(java.time.LocalDate.of(2025, 6, 1)
        .plusDays(i % 28)))).toDF("id", "ts", "d").repartition(1))
    val base = t.currentSnapshot.get
    assert(base.liveFiles.size == 2)
    def cand(c: org.apache.spark.sql.Column) =
      t.pruneByPredicate(base, c)
    assert(cand($"ts" >= lit(java.sql.Timestamp.valueOf(
      "2025-01-01 00:00:00"))).size == 1)
    assert(cand($"d" < lit(java.sql.Date.valueOf("2024-06-01"))).size == 1)
  }
}
