package graft.lake

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LakeTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot = TestSpark.tmpDir("laketable") + "/t"

  test("create + append + scan roundtrip, partitioned") {
    val root = freshRoot
    val df = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x"))
      .toDF("id", "v", "p")
    val t = LakeTable.create(spark, root, df.schema, Seq("p"))
    t.append(df)
    val got = t.scan()
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "p"))
    assert(got.orderBy("id").collect().map(r => (r.getLong(0),
      r.getString(1), r.getString(2))).toSeq ==
      Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x")))
  }

  test("append accumulates; incremental scan returns only the delta") {
    val root = freshRoot
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = LakeTable.create(spark, root, b1.schema)
    val s1 = t.append(b1)
    val s2 = t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(t.scan().count() == 3)
    val inc = t.incrementalScan(s1, s2)
    assert(inc.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // full scan ≡ union of incremental scans from the start
    val all = t.incrementalScan(0L, s2)
    assert(all.count() == 3)
  }

  test("history reflects commits in order") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df); t.append(df)
    val h = t.history.orderBy("snapshot_id").collect()
    assert(h.map(_.getAs[Long]("snapshot_id")).toSeq == Seq(1L, 2L, 3L))
    assert(h.map(_.getAs[String]("operation")).toSeq ==
      Seq("create", "append", "append"))
  }

  test("merge: update wins, unmatched target carried, insert added") {
    val root = freshRoot
    val tgt = Seq((1L, "old1", "x"), (2L, "old2", "y"), (3L, "old3", "x"))
      .toDF("id", "v", "p")
    val t = LakeTable.create(spark, root, tgt.schema, Seq("p"))
    t.append(tgt)
    val src = Seq((2L, "NEW2", "y"), (4L, "NEW4", "z")).toDF("id", "v", "p")
    t.merge(src, Seq("id"))
    val got = t.scan().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "old1"), (2L, "NEW2"), (3L, "old3"), (4L, "NEW4")))
  }

  test("merge sets explicit nulls from source (UPDATE SET *, not coalesce)") {
    val root = freshRoot
    val tgt = Seq((1L, Some("old"))).toDF("id", "v")
    val t = LakeTable.create(spark, root, tgt.schema)
    t.append(tgt)
    t.merge(Seq((1L, Option.empty[String])).toDF("id", "v"), Seq("id"))
    assert(t.scan().collect().head.isNullAt(1))
  }

  test("merge rewrites only affected files") {
    val root = freshRoot
    val tgt = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "v", "p")
    val t = LakeTable.create(spark, root, tgt.schema, Seq("p"))
    t.append(tgt) // two files: p=x, p=y
    val before = t.currentSnapshot.get.liveFiles.toSet
    t.merge(Seq((2L, "B2", "y")).toDF("id", "v", "p"), Seq("id"))
    val after = t.currentSnapshot.get
    // the p=x file must be carried forward untouched
    val untouched = before.filter(_.contains("p=x"))
    assert(untouched.subsetOf(after.liveFiles.toSet))
    assert(after.removedFiles.forall(_.contains("p=y")))
  }

  test("merge is idempotent") {
    val root = freshRoot
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    val src = Seq((2L, "B"), (3L, "C")).toDF("id", "v")
    t.merge(src, Seq("id"))
    val once = t.scan().orderBy("id").collect().toSeq
    t.merge(src, Seq("id"))
    assert(t.scan().orderBy("id").collect().toSeq == once)
  }

  test("incremental scan over a merge snapshot is rejected") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    val s1 = t.append(df)
    val s2 = t.merge(Seq((1L, "b")).toDF("id", "v"), Seq("id"))
    intercept[UnsupportedOperationException](t.incrementalScan(s1, s2))
  }

  test("overwrite replaces data") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    t.overwrite(Seq((9L, "z")).toDF("id", "v"))
    assert(t.scan().collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("merge-on-read property routes merge to the MOR path") {
    val root = freshRoot
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_MERGE_MODE -> "merge-on-read"))
    t.append(df)
    t.merge(Seq((1L, "A"), (3L, "C")).toDF("id", "v"), Seq("id"))
    val snap = t.currentSnapshot.get
    assert(snap.removedFiles.isEmpty, "MOR merge must not rewrite files")
    assert(snap.deleteFiles.nonEmpty, "MOR merge must add a delete file")
    assert(t.scan().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "A"), (2L, "b"), (3L, "C")))
  }

  test("time travel: scanAt sees the historical snapshot") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    val s1 = t.append(df)
    t.append(Seq((2L, "b")).toDF("id", "v"))
    assert(t.scanAt(s1).collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(t.scan().count() == 2)
  }

  test("COW delete removes matching rows, keeps null-predicate rows") {
    val root = freshRoot
    val df = Seq((1L, Some("x")), (2L, Some("y")), (3L, None))
      .toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    t.delete($"v" === "x") // id=3 has v=null → predicate null → kept
    assert(t.scan().collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 3L))
  }

  test("COW delete rewrites only affected partitions") {
    val root = freshRoot
    val df = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "v", "p")
    val t = LakeTable.create(spark, root, df.schema, Seq("p"))
    t.append(df)
    val before = t.currentSnapshot.get.liveFiles.filter(_.contains("p=x"))
    t.delete($"id" === 2) // only p=y touched
    val after = t.currentSnapshot.get
    assert(before.toSet.subsetOf(after.liveFiles.toSet))
    assert(after.removedFiles.forall(_.contains("p=y")))
  }

  test("COW update applies assignments to matching rows only") {
    val root = freshRoot
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    t.update($"id" === 2, Map("v" -> ($"v" * 3)))
    val got = t.scan().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 60.0)))
  }

  test("compact preserves content, reduces file count") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    (2L to 5L).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    t.append(df)
    val filesBefore = t.currentSnapshot.get.liveFiles.size
    val rowsBefore = t.scan().orderBy("id").collect().toSeq
    t.compact()
    assert(t.currentSnapshot.get.liveFiles.size < filesBefore)
    assert(t.scan().orderBy("id").collect().toSeq == rowsBefore)
  }

  test("appendOnce: a replayed (appId, version) is a no-op; versions advance") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    val s1 = t.appendOnce(df, "sink-A", 0L)
    // the crash-replay case: same app, same version → skipped entirely
    assert(t.appendOnce(df, "sink-A", 0L) == s1)
    assert(t.scan().count() == 1)
    // next batch commits; an OLD version replayed after it also skips
    t.appendOnce(Seq((2L, "b")).toDF("id", "v"), "sink-A", 1L)
    assert(t.scan().count() == 2)
    val head = t.currentSnapshotId.get
    assert(t.appendOnce(df, "sink-A", 0L) == head)
    assert(t.scan().count() == 2)
    // a DIFFERENT sink's version space is independent
    t.appendOnce(Seq((3L, "c")).toDF("id", "v"), "sink-B", 0L)
    assert(t.scan().count() == 3)
    // plain appends never consult watermarks
    t.append(df)
    assert(t.scan().count() == 4)
    // the watermarks ride the snapshot properties
    assert(t.properties.get("txn.sink-A").contains("1"))
    assert(t.properties.get("txn.sink-B").contains("0"))
  }

  test("appendOnce racing its own replay: rebased retry skips, no double rows") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    LakeTable.create(spark, root, df.schema)
    val t1 = LakeTable.load(spark, root)
    val t2 = LakeTable.load(spark, root)
    // t2 (the replayed twin) commits the same batch between t1's write
    // and its commit attempt — t1's retry must find the watermark and
    // skip instead of double-appending
    var fired = false
    t1.beforeCommitHook = () => if (!fired) {
      fired = true
      t2.appendOnce(df, "sink", 7L)
    }
    try t1.appendOnce(df, "sink", 7L)
    finally t1.beforeCommitHook = () => ()
    assert(t1.scan().count() == 1, "replay race double-appended")
  }

  test("expireSnapshots drops old metadata + orphaned files; current scan intact") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    t.overwrite(Seq((2L, "b")).toDF("id", "v")) // v2's file now orphaned
    t.append(Seq((3L, "c")).toDF("id", "v"))
    val head = t.currentSnapshotId.get
    t.expireSnapshots(keepLast = 2)
    assert(t.scan().collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 3L))
    assert(t.snapshots.map(_.snapshotId) == Seq(head - 1, head))
    intercept[IllegalArgumentException](t.snapshot(1L))
    assert(t.history.count() == 2)
  }

  test("catalog SQL surface: registered views answer spark.sql") {
    val wh = TestSpark.tmpDir("sqlwh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("nsq")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    LakeTable.createOrReplace(spark, cat.tablePath("nsq", "tv"), df)
    val n = cat.sql("nsq", "SELECT count(*) AS n FROM tv")
      .collect()(0).getLong(0)
    assert(n == 2L)
  }

  test("merge: null-key source rows insert; null-key target rows survive") {
    val root = freshRoot
    val tgt = Seq((Some(1L), "t1"), (None, "tnull")).toDF("id", "v")
    val t = LakeTable.create(spark, root, tgt.schema)
    t.append(tgt)
    val src = Seq((Some(1L), "S1"), (None, "snull")).toDF("id", "v")
    t.merge(src, Seq("id"))
    val got = t.scan().collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getString(1))).toSet
    // key 1 updated; both null-key rows present (never matched)
    assert(got == Set((Some(1L), "S1"), (None, "tnull"), (None, "snull")))
  }

  test("expireSnapshots is safe to run repeatedly") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    (2L to 6L).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    t.expireSnapshots(keepLast = 2)
    (7L to 9L).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    t.expireSnapshots(keepLast = 2) // must not trip on already-expired ids
    assert(t.snapshots.size == 2)
    assert(t.scan().count() == 8) // all appended rows still live
  }

  test("compact honors targetFilesPerPartition > 1") {
    val root = freshRoot
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("v", $"id".cast("string"))
    val t = LakeTable.create(spark, root, df.schema)
    (0 until 6).foreach(i =>
      t.append(df.where($"id" % 6 === i)))
    assert(t.currentSnapshot.get.liveFiles.size >= 6)
    t.compact(targetFilesPerPartition = 3)
    val nFiles = t.currentSnapshot.get.liveFiles.size
    assert(nFiles >= 2 && nFiles <= 3, s"got $nFiles files")
    assert(t.scan().count() == 1000)
  }

  test("crashed commit (metadata written, HEAD not swapped) does not wedge the table") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df) // HEAD = 2
    // simulate a crash: v3's doc exists but HEAD never moved
    val orphan = new org.apache.hadoop.fs.Path(root,
      s"metadata/${ManifestIO.docName(3L)}")
    val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(orphan, false)
    out.write("{\"snapshot_id\": 3}".getBytes("UTF-8")); out.close()
    // crashed long ago (recovery is age-gated against live racers)
    fs.setTimes(orphan,
      System.currentTimeMillis() - LakeTable.ORPHAN_GRACE_MS - 1000, -1)
    // orphans beyond HEAD are invisible to history/snapshots
    assert(t.snapshots.map(_.snapshotId) == Seq(1L, 2L))
    // and the next commit recovers by replacing the orphan
    val id = t.append(Seq((2L, "b")).toDF("id", "v"))
    assert(id == 3L)
    assert(t.scan().count() == 2)
  }

  test("merge with an empty source is a no-op on content") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    t.merge(df.where($"id" === 999), Seq("id"))
    assert(t.scan().collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("racing committers: second writer on a stale base fails, table intact") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    LakeTable.create(spark, root, df.schema)
    // two handles on the same table — simulate a racing commit by
    // letting both append from the same HEAD
    val t1 = LakeTable.load(spark, root)
    val t2 = LakeTable.load(spark, root)
    val latch = new java.util.concurrent.CountDownLatch(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]()
    def run(t: LakeTable, v: String): Thread = {
      val th = new Thread(() => {
        try results.add(Right(t.append(Seq((2L, v)).toDF("id", "v"))))
        catch { case e: Throwable => results.add(Left(e)) }
        finally latch.countDown()
      })
      th.start(); th
    }
    run(t1, "x"); run(t2, "y")
    latch.await()
    val rs = results.toArray(Array.empty[Either[Throwable, Long]])
    val committed = rs.collect { case Right(id) => id }
    val failed = rs.collect { case Left(e) => e }
    // valid outcomes: both serialized (2 commits) or one lost the race
    // with a ConcurrentModificationException / duplicate-version error
    assert(committed.nonEmpty)
    failed.foreach(e => assert(
      e.isInstanceOf[java.util.ConcurrentModificationException] ||
        e.isInstanceOf[java.io.IOException] ||
        e.getCause != null, s"unexpected failure: $e"))
    // the table is intact: HEAD resolves, scan returns the winners' rows
    // (the table starts empty — v1 is the create snapshot)
    val t3 = LakeTable.load(spark, root)
    assert(t3.scan().count() == committed.size)
  }

  test("append retries past a non-conflicting concurrent commit") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    LakeTable.create(spark, root, df.schema)
    val t1 = LakeTable.load(spark, root)
    val t2 = LakeTable.load(spark, root)
    t1.append(df) // v2
    // deterministic interleave: after t1's next append wrote its files
    // (base = v2), t2 commits v3 — t1's first commit attempt loses the
    // race and must land on retry as v4 without rewriting anything
    var fired = false
    t1.beforeCommitHook = () => if (!fired) {
      fired = true
      t2.append(Seq((2L, "interleaved")).toDF("id", "v"))
    }
    try {
      val id = t1.append(Seq((3L, "retried")).toDF("id", "v"))
      assert(fired)
      assert(id == 4L, s"loser must re-commit against the new HEAD, got $id")
    } finally t1.beforeCommitHook = () => ()
    val t3 = LakeTable.load(spark, root)
    assert(t3.scan().orderBy("id").select("v").as[String].collect()
      .toSeq == Seq("a", "interleaved", "retried"))
    assert(t3.history.count() == 4) // create + 3 appends
  }

  test("append retry refuses a concurrent schema evolution") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    LakeTable.create(spark, root, df.schema)
    val t1 = LakeTable.load(spark, root)
    val t2 = LakeTable.load(spark, root)
    t1.append(df)
    // the interleaved commit RENAMES a column: t1's already-written files
    // carry the old physical name with no mapping — blind retry would
    // corrupt reads, so it must surface the conflict instead
    var fired = false
    t1.beforeCommitHook = () => if (!fired) {
      fired = true
      t2.renameColumn("v", "w")
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        t1.append(Seq((2L, "b")).toDF("id", "v"))
      }
    } finally t1.beforeCommitHook = () => ()
    // table is intact under the winner's schema
    val t3 = LakeTable.load(spark, root)
    assert(t3.schema.fieldNames.toSeq == Seq("id", "w"))
    assert(t3.scan().count() == 1)
  }

  test(".files metadata table lists per-file partition, seq, and bounds") {
    val root = freshRoot
    val df = Seq((1L, "a", "x"), (2L, "b", "y"), (7L, "c", "x"))
      .toDF("id", "v", "p")
    val t = LakeTable.create(spark, root, df.schema, Seq("p"))
    // an empty table (no manifest chunk) lists no files, same columns
    val empty = t.files
    assert(empty.isEmpty)
    t.append(df.repartition(1)) // one file per partition
    t.append(Seq((9L, "d", "y")).toDF("id", "v", "p")) // second y-file
    assert(t.files.schema == empty.schema)
    val files = t.files.collect()
    val snap = t.currentSnapshot.get
    // set compare: the chunk-scan view carries no ordering guarantee
    // (entry order vs name order differ by the part-file task uuids)
    assert(files.map(_.getAs[String]("file_path")).toSet ==
      snap.liveFiles.toSet)
    assert(files.forall(r =>
      r.getAs[String]("file_path").contains(r.getAs[String]("partition"))))
    // seq = the committing snapshot id per file
    val bySeq = files.groupBy(_.getAs[Long]("seq")).view.mapValues(_.length)
    assert(bySeq.toMap == Map(2L -> 2, 3L -> 1))
    // bounds mirror the manifest stats (id bounds of the x-partition file)
    val xFile = files.find(r =>
      r.getAs[String]("partition") == "p=x").get
    val bounds = xFile.getAs[Map[String, Row]]("bounds")
    assert(bounds("id") == Row("1", "7"))
    assert(bounds("p") == Row("x", "x"))
    // size/row manifest info is recorded per file
    assert(files.forall(_.getAs[Long]("size_bytes") > 0L))
    assert(xFile.getAs[Long]("record_count") == 2L)
    // and .partitions aggregates it
    val parts = t.partitions.collect()
      .map(r => r.getAs[String]("partition") ->
        (r.getAs[Long]("file_count"), r.getAs[Long]("total_rows"))).toMap
    assert(parts == Map("p=x" -> ((1L, 2L)), "p=y" -> ((2L, 2L))))
  }

  test("rollback restores data, schema, and delete state; history kept") {
    val root = freshRoot
    val df = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    val s1 = t.append(df.repartition(2))
    t.deleteByKeys(Seq(5L).toDF("id"), Seq("id")) // MOR equality delete
    t.addColumn("flag", StringType)
    t.append(Seq((100L, "x", "late")).toDF("id", "v", "flag"))
    assert(t.scan().count() == 20) // 19 + 1 insert
    val rb = t.rollbackTo(s1)
    // data and schema are the target's; the MOR delete no longer applies
    assert(t.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(t.scan().count() == 20)
    assert(t.scan().where($"id" === 5L).count() == 1, "delete must be undone")
    assert(t.currentSnapshot.get.operation == "rollback")
    // nothing deleted: the rolled-past snapshots are still readable and
    // the rollback itself can be rolled back
    assert(t.scanAt(rb - 1).count() == 20)
    t.rollbackTo(rb - 1)
    assert(t.scan().count() == 20)
    assert(t.scan().where($"id" === 5L).count() == 0)
    assert(t.schema.fieldNames.toSeq == Seq("id", "v", "flag"))
    // sequences were restored: a NEW MOR delete still applies correctly
    t.deleteByKeys(Seq(6L).toDF("id"), Seq("id"))
    assert(t.scan().where($"id" === 6L).count() == 0)
  }

  test("rollback rejects unknown and forward targets") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    val head = t.append(df)
    intercept[IllegalArgumentException](t.rollbackTo(head + 5))
    assert(t.rollbackTo(head) == head) // no-op
  }

  test("expireSnapshotsOlderThan: age window expires history, HEAD survives") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df.repartition(1))
    val midTs = System.currentTimeMillis()
    while (System.currentTimeMillis() <= midTs) Thread.sleep(1)
    t.append(Seq((2L, "b")).toDF("id", "v").repartition(1))
    t.expireSnapshotsOlderThan(midTs)
    // snapshots 1..2 (create + first append) are gone, HEAD intact
    assert(t.snapshots.map(_.snapshotId) == Seq(t.currentSnapshotId.get))
    assert(t.scan().count() == 2)
    // even a cutoff beyond now never expires HEAD
    t.expireSnapshotsOlderThan(System.currentTimeMillis() + 100000L)
    assert(t.scan().count() == 2)
  }

  test("removeOrphanFiles deletes unreferenced debris, keeps everything referenced") {
    val root = freshRoot
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df.repartition(1))
    t.overwrite(df.repartition(1)) // makes append's file removed-but-retained
    val expected = t.scan().orderBy("id").collect().toSeq
    // plant crash debris in data/
    val orphan = new org.apache.hadoop.fs.Path(root,
      "data/part-orphan-deadbeef.parquet")
    val fs = orphan.getFileSystem(spark.sessionState.newHadoopConf())
    df.limit(1).repartition(1).write.mode("overwrite")
      .parquet(root + "/.orphan-staging")
    val staged = LakeTable.listParquet(fs,
      new org.apache.hadoop.fs.Path(root + "/.orphan-staging")).head
    fs.rename(staged, orphan)
    // plus a snaplog temp stranded by a crashed cache rename
    val snaplogTmp = new org.apache.hadoop.fs.Path(root,
      "metadata/.snaplog-deadbeef.json")
    LakeTable.writeStringExclusive(fs, snaplogTmp, "{\"entries\":[]}")
    val removed = t.removeOrphanFiles(olderThanMs = 0L)
    assert(removed.toSet == Set("data/part-orphan-deadbeef.parquet",
      "metadata/.snaplog-deadbeef.json"),
      s"unexpected orphan set: $removed")
    assert(!fs.exists(snaplogTmp))
    // committed state intact, including the retained-but-removed file
    assert(t.scan().orderBy("id").collect().toSeq == expected)
    assert(t.snapshots.flatMap(_.liveFiles).forall(f =>
      fs.exists(new org.apache.hadoop.fs.Path(root, f))))
    // second pass finds nothing
    assert(t.removeOrphanFiles(olderThanMs = 0L).isEmpty)
  }

  test("catalog registers metadata views alongside table views") {
    val wh = TestSpark.tmpDir("cat-meta")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("ns")
    val df = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "v", "p")
    val t = cat.createTable("ns", "tbl", df.schema, Seq("p"))
    t.append(df.repartition(1))
    val n = cat.sql("ns",
      """SELECT (SELECT count(*) FROM tbl) AS rows,
        |       (SELECT count(*) FROM tbl_history) AS hist,
        |       (SELECT count(*) FROM tbl_files) AS files,
        |       (SELECT count(*) FROM tbl_snapshots) AS snaps,
        |       (SELECT count(*) FROM tbl_partitions) AS parts""".stripMargin)
      .head()
    assert((n.getLong(0), n.getLong(1), n.getLong(2), n.getLong(3),
      n.getLong(4)) == ((2L, 2L, 2L, 2L, 2L)))
  }

  test("compression codec property is honored (zstd)") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_COMPRESSION -> "zstd"))
    t.append(df)
    val f = t.currentSnapshot.get.liveFiles.head
    assert(f.endsWith(".zstd.parquet") || f.contains("zstd"), f)
    assert(t.scan().count() == 1)
  }

  test("catalog namespaces and tables") {
    val wh = TestSpark.tmpDir("warehouse")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("ns1")
    assert(cat.namespaces == Seq("ns1"))
    val df = Seq((1L, "a")).toDF("id", "v")
    cat.createTable("ns1", "t1", df.schema)
    assert(cat.tableExists("ns1", "t1"))
    assert(cat.listTables("ns1") == Seq("t1"))
    assert(cat.showNamespaces().collect().map(_.getString(0)).toSeq ==
      Seq("ns1"))
    cat.dropTable("ns1", "t1")
    assert(!cat.tableExists("ns1", "t1"))
  }
}
