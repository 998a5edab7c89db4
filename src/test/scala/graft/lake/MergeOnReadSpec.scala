package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Merge-on-read execution (≡ the write.merge.mode / write.delete.mode =
  * merge-on-read capability the reference configures,
  * scripts/raw-bronze.py:161-172): MERGE/DELETE commit equality-delete
  * files plus the after-image and never rewrite existing data; readers
  * apply the deletes; compaction folds them in. */
class MergeOnReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val morProps = Map(
    LakeTable.PROP_MERGE_MODE -> "merge-on-read",
    LakeTable.PROP_DELETE_MODE -> "merge-on-read")

  private def morTable(root: String) = {
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = morProps)
    t.append(df.repartition(2))
    t
  }

  test("MOR merge: zero rewrite, correct upsert semantics") {
    val t = morTable(TestSpark.tmpDir("mor") + "/t")
    val before = t.currentSnapshot.get.liveFiles.toSet
    t.merge(Seq((10L, "UPD"), (200L, "INS")).toDF("id", "v"), Seq("id"))
    val snap = t.currentSnapshot.get
    assert(snap.removedFiles.isEmpty)
    assert(before.subsetOf(snap.liveFiles.toSet))
    assert(snap.deleteFiles.size >= 1)
    val got = t.scan()
    assert(got.count() == 101)
    assert(got.where($"id" === 10L).select("v").as[String].collect()
      .toSeq == Seq("UPD"))
    assert(got.where($"id" === 200L).count() == 1)
  }

  test("MOR merge equals COW merge row-for-row") {
    val src = Seq((5L, "U5"), (50L, "U50"), (500L, "I500"))
      .toDF("id", "v")
    val mor = morTable(TestSpark.tmpDir("mor-eq") + "/t")
    mor.merge(src, Seq("id"))
    val cowRoot = TestSpark.tmpDir("cow-eq") + "/t"
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val cow = LakeTable.create(spark, cowRoot, df.schema)
    cow.append(df.repartition(2))
    cow.merge(src, Seq("id"))
    assert(mor.scan().orderBy("id").collect().toSeq ==
      cow.scan().orderBy("id").collect().toSeq)
  }

  test("chained MOR merges: later merges supersede earlier after-images") {
    val t = morTable(TestSpark.tmpDir("mor-chain") + "/t")
    t.merge(Seq((1L, "gen1")).toDF("id", "v"), Seq("id"))
    t.merge(Seq((1L, "gen2")).toDF("id", "v"), Seq("id"))
    t.merge(Seq((1L, "gen3")).toDF("id", "v"), Seq("id"))
    val got = t.scan().where($"id" === 1L).select("v").as[String].collect()
    assert(got.toSeq == Seq("gen3"))
    assert(t.scan().count() == 100)
  }

  test("MOR deleteByKeys: no rewrite, keys gone, null keys ignored") {
    val t = morTable(TestSpark.tmpDir("mor-del") + "/t")
    val before = t.currentSnapshot.get.liveFiles.toSet
    t.deleteByKeys(
      Seq(Some(3L), Some(7L), Option.empty[Long]).toDF("id"), Seq("id"))
    val snap = t.currentSnapshot.get
    assert(snap.liveFiles.toSet == before)
    assert(snap.operation == "delete")
    assert(t.scan().count() == 98)
    assert(t.scan().where($"id".isin(3L, 7L)).count() == 0)
  }

  test("compact folds deletes in and clears them") {
    val t = morTable(TestSpark.tmpDir("mor-compact") + "/t")
    t.merge(Seq((10L, "UPD")).toDF("id", "v"), Seq("id"))
    t.deleteByKeys(Seq(20L).toDF("id"), Seq("id"))
    val expected = t.scan().orderBy("id").collect().toSeq
    t.compact()
    val snap = t.currentSnapshot.get
    assert(snap.deleteFiles.isEmpty, "compact must clear delete files")
    assert(t.scan().orderBy("id").collect().toSeq == expected)
    assert(t.scan().count() == 99)
  }

  test("time travel sees the delete state of the target snapshot") {
    val t = morTable(TestSpark.tmpDir("mor-tt") + "/t")
    val sAppend = t.currentSnapshotId.get
    t.merge(Seq((10L, "UPD")).toDF("id", "v"), Seq("id"))
    // before the merge: original value, 100 rows
    val old = t.scanAt(sAppend)
    assert(old.count() == 100)
    assert(old.where($"id" === 10L).select("v").as[String].collect()
      .toSeq == Seq("v10"))
  }

  test("COW update on a table with outstanding MOR deletes does not resurrect") {
    val root = TestSpark.tmpDir("mor-mixed") + "/t"
    val df = (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
    // delete mode MOR, update stays COW
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    t.append(df.repartition(1))
    t.deleteByKeys(Seq(5L).toDF("id"), Seq("id"))
    assert(t.scan().count() == 49)
    // COW update rewrites the (only) file; the MOR-deleted row must not
    // come back even though the rewritten file has a NEWER sequence
    t.update($"id" === 6L, Map("v" -> lit("SIX")))
    assert(t.scan().count() == 49, "MOR-deleted row resurrected by rewrite")
    assert(t.scan().where($"id" === 5L).count() == 0)
    assert(t.scan().where($"v" === "SIX").count() == 1)
  }

  test("rename of a delete-key column keeps deletes applying") {
    val root = TestSpark.tmpDir("mor-rename") + "/t"
    val df = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema, properties = morProps)
    t.append(df)
    t.deleteByKeys(Seq(4L).toDF("id"), Seq("id"))
    t.renameColumn("id", "ident")
    assert(t.scan().count() == 19)
    assert(t.scan().where($"ident" === 4L).count() == 0)
    // and a post-rename MOR merge keyed on the new name works
    t.merge(Seq((4L, "back")).toDF("ident", "v"), Seq("ident"))
    assert(t.scan().where($"ident" === 4L).select("v").as[String]
      .collect().toSeq == Seq("back"))
  }

  test("incremental scan still rejects MOR merge commits in range") {
    val t = morTable(TestSpark.tmpDir("mor-inc") + "/t")
    val s1 = t.currentSnapshotId.get
    val s2 = t.merge(Seq((1L, "x")).toDF("id", "v"), Seq("id"))
    intercept[UnsupportedOperationException](t.incrementalScan(s1, s2))
  }

  test("overwrite drops outstanding delete files with the data they applied to") {
    val t = morTable(TestSpark.tmpDir("mor-ow") + "/t")
    t.merge(Seq((10L, "UPD")).toDF("id", "v"), Seq("id"))
    t.deleteByKeys(Seq(20L).toDF("id"), Seq("id"))
    assert(t.currentSnapshot.get.deleteFiles.nonEmpty)
    t.overwrite(Seq((1L, "fresh"), (2L, "start")).toDF("id", "v"))
    val snap = t.currentSnapshot.get
    assert(snap.deleteFiles.isEmpty,
      "overwrite must not carry stale equality-delete files forward")
    assert(snap.posDeleteFiles.isEmpty)
    // and the scan is exactly the overwrite batch — nothing suppressed,
    // nothing resurrected
    assert(t.scan().orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "fresh"), (2L, "start")))
  }

  // ---- position deletes (MOR predicate DELETE / UPDATE)

  private val posProps = Map(
    LakeTable.PROP_DELETE_MODE -> "merge-on-read",
    LakeTable.PROP_UPDATE_MODE -> "merge-on-read")

  private def posTable(root: String) = {
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema, properties = posProps)
    t.append(df.repartition(4))
    t
  }

  test("MOR predicate delete: position-delete files, zero rewrite") {
    val t = posTable(TestSpark.tmpDir("pos-del") + "/t")
    val before = t.currentSnapshot.get.liveFiles.toSet
    t.delete($"id" % 10L === 0L)
    val snap = t.currentSnapshot.get
    assert(snap.liveFiles.toSet == before, "no data file may be rewritten")
    assert(snap.removedFiles.isEmpty)
    assert(snap.posDeleteFiles.nonEmpty)
    assert(snap.operation == "delete")
    assert(t.scan().count() == 90)
    assert(t.scan().where($"id" % 10L === 0L).count() == 0)
  }

  test("MOR predicate delete equals COW predicate delete row-for-row") {
    val mor = posTable(TestSpark.tmpDir("pos-eq-mor") + "/t")
    mor.delete($"id" > 42L && $"id" <= 77L)
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val cow = LakeTable.create(spark,
      TestSpark.tmpDir("pos-eq-cow") + "/t", df.schema)
    cow.append(df.repartition(4))
    cow.delete($"id" > 42L && $"id" <= 77L)
    assert(mor.scan().orderBy("id").collect().toSeq ==
      cow.scan().orderBy("id").collect().toSeq)
  }

  test("MOR predicate update: position delete + after-image, no rewrite") {
    val t = posTable(TestSpark.tmpDir("pos-upd") + "/t")
    val before = t.currentSnapshot.get.liveFiles.toSet
    t.update($"id" <= 3L, Map("v" -> concat(lit("U"), $"id")))
    val snap = t.currentSnapshot.get
    assert(before.subsetOf(snap.liveFiles.toSet),
      "existing files must carry forward")
    assert(snap.addedFiles.nonEmpty, "after-image files must be added")
    assert(snap.posDeleteFiles.nonEmpty)
    assert(t.scan().count() == 100)
    assert(t.scan().where($"id" <= 3L).orderBy("id")
      .select("v").as[String].collect().toSeq == Seq("U1", "U2", "U3"))
    assert(t.scan().where($"v" === "v4").count() == 1)
  }

  test("chained position deletes and repeated updates compose") {
    val t = posTable(TestSpark.tmpDir("pos-chain") + "/t")
    t.delete($"id" === 50L)
    t.update($"id" === 60L, Map("v" -> lit("first")))
    // second update hits the AFTER-IMAGE row (in a new file) — its
    // position delete must target the new file, not the original
    t.update($"id" === 60L, Map("v" -> lit("second")))
    t.delete($"id" === 60L)
    assert(t.scan().count() == 98)
    assert(t.scan().where($"id".isin(50L, 60L)).count() == 0)
    assert(t.currentSnapshot.get.posDeleteFiles.size >= 3)
  }

  test("compact folds position deletes in and clears them") {
    val t = posTable(TestSpark.tmpDir("pos-compact") + "/t")
    t.delete($"id" % 7L === 0L)
    t.update($"id" === 1L, Map("v" -> lit("ONE")))
    val expected = t.scan().orderBy("id").collect().toSeq
    t.compact()
    val snap = t.currentSnapshot.get
    assert(snap.posDeleteFiles.isEmpty, "compact must clear position deletes")
    assert(snap.deleteFiles.isEmpty)
    assert(t.scan().orderBy("id").collect().toSeq == expected)
  }

  test("position deletes compose with equality deletes on one table") {
    val t = posTable(TestSpark.tmpDir("pos-mixed") + "/t")
    t.deleteByKeys(Seq(5L, 6L).toDF("id"), Seq("id")) // equality (keyed)
    t.delete($"id" >= 95L) // position (predicate)
    assert(t.scan().count() == 92)
    assert(t.scan().where($"id".isin(5L, 6L, 95L, 99L)).count() == 0)
    val snap = t.currentSnapshot.get
    assert(snap.deleteFiles.nonEmpty && snap.posDeleteFiles.nonEmpty)
  }

  test("time travel sees the position-delete state of the target snapshot") {
    val t = posTable(TestSpark.tmpDir("pos-tt") + "/t")
    val sAppend = t.currentSnapshotId.get
    val sDel = t.delete($"id" <= 10L)
    t.delete($"id" > 90L)
    assert(t.scanAt(sAppend).count() == 100)
    assert(t.scanAt(sDel).count() == 90)
    assert(t.scan().count() == 80)
  }

  test("MOR merge retries past a racing append; delete applies to its rows") {
    val root = TestSpark.tmpDir("mor-race") + "/t"
    val t1 = morTable(root)
    val t2 = LakeTable.load(spark, root)
    // t2 appends a SECOND row for key 10 between t1's merge write and
    // its commit; the retried merge's delete file must suppress both the
    // original row and the racer's — the declarative upsert contract
    var fired = false
    t1.beforeCommitHook = () => if (!fired) {
      fired = true
      t2.append(Seq((10L, "racer"), (500L, "racer-new")).toDF("id", "v"))
    }
    try t1.merge(Seq((10L, "UPD")).toDF("id", "v"), Seq("id"))
    finally t1.beforeCommitHook = () => ()
    assert(fired)
    val t3 = LakeTable.load(spark, root)
    assert(t3.scan().where($"id" === 10L).select("v").as[String]
      .collect().toSeq == Seq("UPD"))
    assert(t3.scan().where($"id" === 500L).count() == 1)
    assert(t3.scan().count() == 101) // 100 + 500L insert, key 10 deduped
  }

  test("first mergeOnce into an empty MOR table upserts past a racer") {
    // no live files yet, but mergeOnce still writes its equality-delete
    // file: the rebased commit suppresses the racer's row for the key
    val root = TestSpark.tmpDir("mor-race-empty") + "/t"
    val t1 = LakeTable.create(spark, root,
      Seq((0L, "")).toDF("id", "v").schema, properties = morProps)
    val t2 = LakeTable.load(spark, root)
    var fired = false
    t1.beforeCommitHook = () => if (!fired) {
      fired = true
      t2.append(Seq((10L, "racer"), (500L, "racer-new")).toDF("id", "v"))
    }
    try t1.mergeOnce(Seq((10L, "UPD")).toDF("id", "v"), Seq("id"),
      "app", 1L)
    finally t1.beforeCommitHook = () => ()
    assert(fired)
    val t3 = LakeTable.load(spark, root)
    assert(t3.scan().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((10L, "UPD"), (500L, "racer-new")))
    assert(t3.currentSnapshot.get.properties.get("txn.app").contains("1"))
  }

  test("star merge with txn into an empty table never rebases") {
    // an insert-only commit rebased past a racer would duplicate its
    // keys: the conflict surfaces instead
    val root = TestSpark.tmpDir("mor-race-empty-txn") + "/t"
    val t1 = LakeTable.create(spark, root,
      Seq((0L, "")).toDF("id", "v").schema, properties = morProps)
    val t2 = LakeTable.load(spark, root)
    var fired = false
    t1.beforeCommitHook = () => if (!fired) {
      fired = true
      t2.append(Seq((10L, "racer")).toDF("id", "v"))
    }
    try intercept[java.util.ConcurrentModificationException] {
      t1.merge(Seq((10L, "UPD")).toDF("id", "v"), Seq("id"),
        txn = Some("app" -> 1L))
    } finally t1.beforeCommitHook = () => ()
    assert(fired)
    assert(LakeTable.load(spark, root).scan().as[(Long, String)]
      .collect().toSeq == Seq((10L, "racer")))
  }

  test("MOR deleteByKeys retries past a racing append") {
    val root = TestSpark.tmpDir("mor-race-del") + "/t"
    val t1 = morTable(root)
    val t2 = LakeTable.load(spark, root)
    var fired = false
    t1.beforeCommitHook = () => if (!fired) {
      fired = true
      t2.append(Seq((7L, "late-dup")).toDF("id", "v"))
    }
    try t1.deleteByKeys(Seq(7L).toDF("id"), Seq("id"))
    finally t1.beforeCommitHook = () => ()
    assert(fired)
    val t3 = LakeTable.load(spark, root)
    // the retried delete's sequence outranks the racer's append too
    assert(t3.scan().where($"id" === 7L).count() == 0)
    assert(t3.scan().count() == 99)
  }

  test("position delete retries past append but refuses a racing compact") {
    val rootA = TestSpark.tmpDir("pos-race-ok") + "/t"
    val tA = posTable(rootA)
    val tA2 = LakeTable.load(spark, rootA)
    var firedA = false
    tA.beforeCommitHook = () => if (!firedA) {
      firedA = true
      tA2.append(Seq((200L, "late")).toDF("id", "v"))
    }
    try tA.delete($"id" <= 5L)
    finally tA.beforeCommitHook = () => ()
    assert(firedA)
    assert(LakeTable.load(spark, rootA).scan().count() == 96) // 100-5+1
    // a racing COMPACT re-homes rows — captured ordinals are invalid,
    // the retry must be refused
    val rootB = TestSpark.tmpDir("pos-race-bad") + "/t"
    val tB = posTable(rootB)
    val tB2 = LakeTable.load(spark, rootB)
    var firedB = false
    tB.beforeCommitHook = () => if (!firedB) {
      firedB = true
      tB2.compact()
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        tB.delete($"id" <= 5L)
      }
    } finally tB.beforeCommitHook = () => ()
    // table intact under the compacted snapshot
    assert(LakeTable.load(spark, rootB).scan().count() == 100)
  }

  test("predicate matching nothing is a no-op commit-wise") {
    val t = posTable(TestSpark.tmpDir("pos-noop") + "/t")
    val head = t.currentSnapshotId.get
    assert(t.delete($"id" > 1000L) == head)
    assert(t.update($"id" > 1000L, Map("v" -> lit("x"))) == head)
    assert(t.scan().count() == 100)
  }

  test("convert_equality_deletes: eras collapse to positions, reads equal") {
    val root = TestSpark.tmpDir("mor-convert") + "/t"
    val t = morTable(root)
    // two delete eras with an after-image that must stay visible
    t.merge(Seq((1L, "ONE"), (101L, "NEW")).toDF("id", "v"), Seq("id"))
    t.merge(Seq((2L, "TWO"), (1L, "ONE-AGAIN")).toDF("id", "v"), Seq("id"))
    // plus an outstanding position delete that must be preserved
    t.delete($"id" === 50L)
    val before = t.scan().as[(Long, String)].collect().toSet
    assert(t.currentSnapshot.get.deleteFiles.size >= 2)

    t.convertEqualityDeletes()
    val snap = t.currentSnapshot.get
    assert(snap.deleteFiles.isEmpty, "equality deletes fully converted")
    assert(snap.posDeleteFiles.nonEmpty)
    assert(t.scan().as[(Long, String)].collect().toSet == before,
      "reads identical across the conversion")
    assert(before.contains((1L, "ONE-AGAIN")) && !before.contains((1L, "ONE")),
      "after-image seq semantics carried through")
    // idempotent when nothing remains to convert
    val head = t.currentSnapshotId.get
    assert(t.convertEqualityDeletes() == head)
    // post-conversion writes behave normally: a re-insert of a deleted
    // key is visible (stale positions name old rows, not new files)
    t.append(Seq((50L, "FIFTY-BACK")).toDF("id", "v"))
    assert(t.scan().where($"id" === 50L).as[(Long, String)]
      .collect().toSeq == Seq((50L, "FIFTY-BACK")))
  }

  test("CALL convert_equality_deletes + ALTER TABLE RENAME TO via SQL") {
    val cat = new LakeCatalog(spark, TestSpark.tmpDir("mor-convert-sql"))
    cat.createNamespace("ns")
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    cat.createTable("ns", "t", df.schema, properties = morProps)
    val lt = cat.loadTable("ns", "t")
    lt.append(df)
    lt.merge(Seq((1L, "ONE")).toDF("id", "v"), Seq("id"))
    assert(lt.currentSnapshot.get.deleteFiles.nonEmpty)
    cat.sql("ns", "CALL system.convert_equality_deletes('t')")
    assert(cat.loadTable("ns", "t").currentSnapshot.get.deleteFiles.isEmpty)
    cat.sql("ns", "ALTER TABLE t RENAME TO t2")
    assert(!cat.tableExists("ns", "t") && cat.tableExists("ns", "t2"))
    // history, data, and outstanding position deletes all travelled
    assert(cat.sql("ns", "SELECT count(*) AS n FROM t2").head.getLong(0) == 10)
    assert(cat.sql("ns", "SELECT v FROM t2 WHERE id = 1").head.getString(0)
      == "ONE")
  }
}
