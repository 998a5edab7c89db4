package graft.lake

import scala.collection.immutable.VectorMap

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The chunked-manifest commit-metadata layer (see [[ManifestIO]]): the
  * round's scale criterion is that a commit writes metadata bounded by
  * its DELTA (plus a constant fold tax), never by table size — the
  * manifest-list property the reference's stack gets from Iceberg's
  * format-version 2. */
class ManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot = TestSpark.tmpDir("manifest") + "/t"

  private def metaFiles(root: String): Map[String, Long] = {
    val p = new Path(root, LakeTable.METADATA_DIR)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).filter(_.isFile)
      .map(s => s.getPath.getName -> s.getLen).toMap
  }

  test("N appends write O(delta) metadata per commit, reusing parent chunks") {
    val root = freshRoot
    val df0 = Seq((0L, "seed")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df0.schema)
    val n = 40
    var perCommitNewBytes = Vector.empty[Long]
    var vJsonSizes = Vector.empty[Long]
    var vJsonIds = Vector.empty[Long]
    var chunkCounts = Vector.empty[Int]
    var reusedAtLeastOne = 0
    (1 to n).foreach { i =>
      val before = metaFiles(root)
      val prevManifests = t.currentSnapshot.get.manifests.toSet
      val id = t.append(Seq((i.toLong, s"row$i")).toDF("id", "v")
        .repartition(1))
      val after = metaFiles(root)
      val newFiles = after.view.filterKeys(!before.contains(_)).toMap
      perCommitNewBytes :+= newFiles.values.sum
      vJsonSizes :+= after(ManifestIO.docName(id))
      vJsonIds :+= id
      chunkCounts :+= t.currentSnapshot.get.manifests.size
      if (t.currentSnapshot.get.manifests.exists(prevManifests))
        reusedAtLeastOne += 1
    }
    // the snapshot JSON carries the delta, chunk names, per-CHUNK
    // summaries, and (since the inline-chunk change) SMALL delta
    // chunks embedded under `inline_chunks` — so the bound splits:
    // everything OUTSIDE inline_chunks is O(chunks), and the inline
    // share is bounded by the same delta+fold-tax bound as the
    // per-commit new-bytes check below. Never O(table) either way.
    val fsys = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    vJsonSizes.zip(chunkCounts).zip(vJsonIds).foreach {
      case ((bytes, chunks), id) =>
        val doc = Snapshot.mapper.readTree(ManifestIO.readDoc(fsys,
          new Path(root, LakeTable.METADATA_DIR), id))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        doc.remove("inline_chunks")
        val nonInline = Snapshot.mapper.writerWithDefaultPrettyPrinter()
          .writeValueAsString(doc).length
        assert(nonInline < 1500L + 450L * chunks,
          s"snapshot JSON (minus inline chunks) not O(chunks): " +
            s"$nonInline of $bytes bytes at $chunks chunks")
    }
    // per-commit metadata is delta + bounded fold tax — never the table.
    // A full inline manifest at n=40 would be ~40 entries every commit;
    // the fold bound is MergeFanout entries. Entries here are ~200 B.
    val entryBytes = 400L // generous per-entry JSON bound for this schema
    val bound = 3000L + ManifestIO.MergeFanout.toLong *
      ManifestIO.MergeFanout * entryBytes
    assert(perCommitNewBytes.max <= bound,
      s"a commit wrote ${perCommitNewBytes.max} B of metadata " +
        s"(> bound $bound) — O(table) rewrite is back")
    // most commits (the non-fold ones) reuse a parent chunk verbatim
    assert(reusedAtLeastOne >= n / 2,
      s"only $reusedAtLeastOne/$n commits reused a parent chunk")
    // the fold keeps chunk count logarithmic-ish, not one per commit
    val chunks = t.currentSnapshot.get.manifests
    assert(chunks.size < n / 2,
      s"${chunks.size} chunks after $n appends — fold not engaging")
    // and the materialized state is intact
    assert(t.scan().count() == n)
  }

  test("chunk plan reuses unchanged chunks and rewrites only affected ones") {
    val root = freshRoot
    val df = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_SORT_ORDER -> "id"))
    t.append(df.repartition(4))
    val base = t.currentSnapshot.get
    assert(base.manifests.nonEmpty)
    // a COW delete touching ONE file's key range must keep every chunk
    // whose entries are untouched... with 4 files in 1 chunk the chunk
    // is rewritten; so first grow to multiple chunks via more appends
    (1 to 10).foreach(i =>
      t.append(Seq((1000L + i, "x")).toDF("id", "v").repartition(1)))
    val before = t.currentSnapshot.get
    assert(before.manifests.size >= 2,
      s"need ≥2 chunks to show selective rewrite: ${before.manifests}")
    t.delete($"id" === 5L) // rewrites one original data file
    val after = t.currentSnapshot.get
    val kept = after.manifests.toSet.intersect(before.manifests.toSet)
    assert(kept.nonEmpty,
      s"delete rewrote every chunk: ${before.manifests} -> " +
        s"${after.manifests}")
    assert(t.scan().where($"id" === 5L).count() == 0)
    assert(t.scan().count() == 209)
  }

  test("rollback reuses the target's chunks wholesale") {
    val root = freshRoot
    val df = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    val keep = t.append(df.repartition(2))
    val target = t.snapshot(keep)
    t.append((51 to 60).map(i => (i.toLong, "x")).toDF("id", "v"))
    val before = metaFiles(root)
    t.rollbackTo(keep)
    val after = metaFiles(root)
    val newChunks = after.keySet.diff(before.keySet).filter(_.startsWith("m-"))
    assert(newChunks.isEmpty,
      s"rollback wrote fresh chunks instead of reusing: $newChunks")
    assert(t.currentSnapshot.get.manifests.toSet == target.manifests.toSet)
    assert(t.scan().count() == 50)
  }

  test("expireSnapshots reclaims chunks referenced only by expired snapshots") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    (1 to 6).foreach(i =>
      t.append(Seq((i.toLong, "x")).toDF("id", "v").repartition(1)))
    t.compact() // retires all prior files → prior chunks become dead
    val expiredChunks = t.snapshots.dropRight(1).flatMap(_.manifests).toSet
      .diff(t.currentSnapshot.get.manifests.toSet)
    assert(expiredChunks.nonEmpty)
    t.expireSnapshots(keepLast = 1)
    val left = metaFiles(root).keySet
    assert(expiredChunks.forall(!left(_)),
      s"dead chunks survived expiry: ${expiredChunks.intersect(left)}")
    // every retained chunk still READABLE: file-backed ones as files,
    // inline ones from their (retained or promoted) host doc — a cold
    // handle proves it end-to-end
    assert(t.currentSnapshot.get.manifests.forall(n =>
      left(n) || n.startsWith("iv")))
    assert(LakeTable.load(spark, root).scan().count() == 6)
    assert(t.scan().count() == 6)
  }

  test("lost-race commit leaves no stranded chunks; orphan sweep covers a crash") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df.repartition(1))
    // plant an orphan chunk through the commit path's own writer, under
    // its real name, as a commit that crashed after the chunk write
    // would strand it
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val metaDir = new Path(root, LakeTable.METADATA_DIR)
    val orphan = ManifestIO.writeChunk(fs, metaDir,
      Seq(ManifestEntry("data/x.parquet", 9L, Map.empty, Map.empty,
        FileInfo(10L, 1L))))
    assert(orphan.startsWith("m-") && orphan.endsWith(".json.gz"), orphan)
    val removed = t.removeOrphanFiles(olderThanMs = 0L)
    assert(removed.contains(s"${LakeTable.METADATA_DIR}/$orphan"),
      s"orphan chunk not swept: $removed")
    assert(!fs.exists(new Path(metaDir, orphan)))
    assert(t.scan().count() == 1)
  }

  /** A table of exactly `partitions` × 4 files of 5 rows: ids
    * `0 until 20 * partitions`, partition `p = id / 20`, written by 4
    * tasks that each hold 5 rows of every partition. */
  private def fourTaskTable(root: String, partitions: Int): LakeTable = {
    val rows = for {
      task <- 0 until 4; p <- 0 until partitions; k <- 0 until 5
    } yield { val i = p * 20 + task * 5 + k; (i.toLong, s"v$i", p) }
    val df = spark.sparkContext.parallelize(rows, 4).toDF("id", "v", "p")
    val t = LakeTable.create(spark, root, df.schema, Seq("p"))
    t.append(df)
    assert(t.currentSnapshot.get.liveFiles.size == partitions * 4)
    t
  }

  /** One COW delete inside partition 7 of a [[fourTaskTable]]: the
    * table's root and the bytes of metadata the delete wrote. */
  private def onePartitionDelete(partitions: Int): (String, Long) = {
    val root = freshRoot
    val t = fourTaskTable(root, partitions)
    val base = t.currentSnapshot.get
    assert(base.manifests.forall(ManifestIO.isChunkFile), base.manifests)
    val before = metaFiles(root)
    t.delete($"p" === 7 && $"id" % 2 === 0)
    val written = metaFiles(root).collect {
      case (n, len) if !before.get(n).contains(len) => len
    }.sum
    val snap = t.currentSnapshot.get
    assert(snap.removedFiles.nonEmpty && snap.addedFiles.nonEmpty,
      "expected a copy-on-write rewrite")
    // every parent chunk kept by name, the removed files masked
    assert(base.manifests.forall(snap.manifests.contains),
      s"${base.manifests} -> ${snap.manifests}")
    assert(snap.tombstones.toSet == snap.removedFiles.toSet)
    (root, written)
  }

  private lazy val smallDelete = onePartitionDelete(50)

  test("one-partition COW delete on a 200-file table writes only its doc") {
    import org.apache.spark.sql.functions.sum
    val (root, written) = smallDelete
    info(s"the delete wrote $written B of metadata")
    // the 200 entries stay in their one file-backed chunk; the delete
    // writes one gzip doc holding the delta and four tombstones
    assert(written < 1024,
      s"a one-partition delete wrote $written B of metadata")
    val t = LakeTable.load(spark, root)
    val snap = t.currentSnapshot.get
    val rows = 1000L - 10L
    def readBack(h: LakeTable): (Long, Long, Long) =
      (h.scan().count(), h.files.count(),
        h.manifestsTable.agg(sum("entry_count")).first().getLong(0))
    val expected = (rows, snap.liveFiles.size.toLong,
      snap.liveFiles.size.toLong)
    assert(readBack(t) == expected)
    assert(readBack(LakeTable.load(spark, root)) == expected)
    t.expireSnapshots(keepLast = 1)
    assert(readBack(LakeTable.load(spark, root)) == expected)
  }

  test("one-partition COW delete writes the same metadata on a 2 000-file table") {
    val (_, small) = smallDelete
    val (root, written) = onePartitionDelete(500)
    info(s"the delete wrote $written B of metadata, $small B at 200 files")
    assert(LakeTable.load(spark, root).currentSnapshot.get.manifests
      .count(ManifestIO.isChunkFile) == 4)
    // metadata in proportion to the change, not the table: ten times
    // the files costs three more chunk names and summaries
    assert(written <= small + 1024,
      s"2 000-file delete wrote $written B against $small B at 200 files")
  }

  test("tombstones mask removed files on every read path and fold past the bound") {
    import org.apache.spark.sql.functions.{col, sum}
    val root = freshRoot
    val t = fourTaskTable(root, 50) // 200 files in one file-backed chunk
    val bigChunk = t.currentSnapshot.get.manifests.head
    // the model: ids left after deletes of the even ids in partitions
    // 3k..3k+2 for round k, plus appended ids
    var model: Set[Long] = (0L until 1000L).toSet
    val atSnapshot = scala.collection.mutable.Map.empty[Long, Set[Long]]
    val pred = col("p") <= 2 // partial materialize: later deltas skip
    def predRows(m: Set[Long]) = m.count(i => i < 1000L && i / 20 <= 2)
    def check(h: LakeTable): Unit = {
      val snap = h.currentSnapshot.get
      val live = snap.liveFiles.toSet
      assert(snap.tombstones.size <= ManifestIO.MaxTombstones)
      assert(!snap.tombstones.exists(live), "a tombstone names a live file")
      assert(h.scan().count() == model.size)
      assert(h.scan(pred).count() == predRows(model))
      assert(h.files.count() == live.size)
      val parts = h.partitions.agg(sum("file_count"), sum("total_rows"))
        .first()
      assert(parts.getLong(0) == live.size && parts.getLong(1) == model.size)
      assert(h.manifestsTable.agg(sum("entry_count")).first().getLong(0) ==
        live.size)
      assert(h.countRows() == model.size)
    }
    def deleteRound(k: Int): Long = {
      val ps = (3 * k until 3 * k + 3).toSet
      val id = t.delete(col("p").isin(ps.toSeq: _*) && col("id") % 2 === 0)
      model = model.filterNot(i => i < 1000L && ps((i / 20).toInt) && i % 2 == 0)
      atSnapshot(id) = model
      check(t)
      // a cold handle plans `pred` from chunk summaries alone: it loads
      // only the chunks they keep and still subtracts every tombstone
      val cold = LakeTable.load(spark, root)
      assert(cold.scan(pred).count() == predRows(model))
      if (k > 0) assert(
        cold.chunkLoads.get() < t.currentSnapshot.get.manifests.size,
        "the pruned scan loaded every chunk")
      check(cold)
      id
    }
    // five deletes of 12 files each: the chunk stays, 60 tombstones
    val ids = (0 until 5).map(deleteRound)
    val tombstoned = t.currentSnapshot.get
    assert(tombstoned.manifests.contains(bigChunk) &&
      tombstoned.tombstones.size == 60, tombstoned.tombstones.size)
    // an append carries the tombstones forward unchanged
    val beforeAppend = t.currentSnapshot.get.snapshotId
    t.append(Seq((5000L, "a", 100)).toDF("id", "v", "p"))
    model += 5000L
    assert(t.currentSnapshot.get.tombstones == tombstoned.tombstones)
    check(t); check(LakeTable.load(spark, root))
    // the sixth would carry 72: the chunk is rewritten, tombstones gone
    val folded = deleteRound(5)
    val head = t.currentSnapshot.get
    assert(!head.manifests.contains(bigChunk) && head.tombstones.isEmpty,
      s"${head.manifests} / ${head.tombstones.size} tombstones")
    t.append(Seq((5001L, "b", 100), (5002L, "c", 100)).toDF("id", "v", "p"))
    model ++= Seq(5001L, 5002L)
    check(t); check(LakeTable.load(spark, root))
    // time travel to a pre-fold snapshot, warm and cold
    val preFold = ids(3)
    Seq(t, LakeTable.load(spark, root)).foreach { h =>
      assert(h.scanAt(preFold).count() == atSnapshot(preFold).size)
    }
    // incremental read across the fold: only the appended rows
    assert(LakeTable.load(spark, root).incrementalScan(beforeAppend,
      t.currentSnapshotId.get, skipNonAppends = true).count() == 3)
    assert(folded > beforeAppend)
    // roll back to a tombstoned snapshot
    model = atSnapshot(preFold)
    t.rollbackTo(preFold)
    check(t); check(LakeTable.load(spark, root))
    // expiry and the orphan sweep keep every live file
    t.expireSnapshots(keepLast = 1)
    check(LakeTable.load(spark, root))
    val swept = t.removeOrphanFiles(olderThanMs = 0L)
    val live = t.currentSnapshot.get.liveFiles.toSet
    assert(!swept.exists(live), s"orphan sweep removed live files")
    check(LakeTable.load(spark, root))
    // docs, chunks and expiry's promoted inline chunks are gzip-framed
    val crcs = new java.io.File(root, LakeTable.METADATA_DIR).list()
      .filter(_.endsWith(".crc"))
    assert(crcs.isEmpty, s"metadata holds checksum files: ${crcs.toSeq}")
  }

  test("the planner reuses a partly dead chunk only while every live entry is unchanged") {
    def e(p: String, lo: String = "1") =
      ManifestEntry(p, 2L, Map("id" -> ColStat(lo, "9")), Map.empty,
        FileInfo(10L, 1L))
    val snap = Snapshot(3L, Some(2L), 0L, "delete", Nil, Nil,
      entries = Snapshot.index(Seq("a", "b", "c").map(e(_))),
      schemaJson = "{}", partitionColumns = Nil, properties = Map.empty)
    // one dead entry: kept by name behind a tombstone
    val kept = ManifestIO.plan(snap, Seq("x" -> Seq(e("a"), e("b"), e("d")),
      "y" -> Seq(e("c"))))
    assert(kept.reused == Seq("x", "y") && kept.tombstones == Seq("d") &&
      kept.toWrite.isEmpty, kept)
    // a changed entry for a live path: rewritten, no tombstone
    val changed = ManifestIO.plan(snap, Seq(
      "x" -> Seq(e("a"), e("b", lo = "0"), e("d")), "y" -> Seq(e("c"))))
    assert(changed.reused == Seq("y") && changed.tombstones.isEmpty &&
      changed.toWrite.flatten.map(_.path).toSet == Set("a", "b"), changed)
    // at least half dead: rewritten
    val halfDead = ManifestIO.plan(snap, Seq(
      "x" -> Seq(e("a"), e("d")), "y" -> Seq(e("b"), e("c"))))
    assert(halfDead.reused == Seq("y") && halfDead.tombstones.isEmpty,
      halfDead)
    // past the bound every tombstoned chunk is rewritten: two chunks,
    // each under half dead, with 80 tombstones between them
    def le(p: String) =
      ManifestEntry(p, 2L, Map.empty, Map.empty, FileInfo(10L, 1L))
    val wide = snap.copy(entries =
      Snapshot.index((0 until 200).map(i => le(s"l$i"))))
    val full = ManifestIO.plan(wide, Seq(
      "x" -> ((0 until 100).map(i => le(s"l$i")) ++
        (0 until 40).map(i => le(s"dead$i"))),
      "y" -> ((100 until 200).map(i => le(s"l$i")) ++
        (40 until 80).map(i => le(s"dead$i")))))
    assert(full.tombstones.isEmpty && full.reused.isEmpty &&
      full.toWrite.flatten.map(_.path).toSet == wide.liveFiles.toSet)
    // an append carries the parent's tombstones unchanged
    val appended = ManifestIO.planAppend(Seq("x"), Seq("d"), Seq(e("n")),
      Map("x" -> Seq(e("a"), e("b"), e("d"))))
    assert(appended.reused == Seq("x") && appended.tombstones == Seq("d"))
  }

  test("a corrupt or truncated snapshot doc fails loudly on a cold handle") {
    val root = freshRoot
    val t = LakeTable.create(spark, root,
      Seq((1L, "a")).toDF("id", "v").schema)
    val id = t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val doc = java.nio.file.Paths.get(root, LakeTable.METADATA_DIR,
      ManifestIO.docName(id))
    val good = java.nio.file.Files.readAllBytes(doc)
    val flipped = good.clone()
    flipped(good.length / 2) = (flipped(good.length / 2) ^ 0x10).toByte
    Seq(flipped, good.take(good.length - 5), good.take(good.length / 2))
      .foreach { bad =>
        java.nio.file.Files.write(doc, bad)
        intercept[java.io.IOException](
          LakeTable.load(spark, root).scan().count())
      }
    java.nio.file.Files.write(doc, good)
    assert(LakeTable.load(spark, root).scan().count() == 2)
  }

  test("expiry of a ~1k-file snapshot completes and reclaims everything dead") {
    val root = freshRoot
    val df = (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df.repartition(500)) // ~500 small files in one commit
    t.append(df.repartition(500))
    val before = t.currentSnapshot.get.liveFiles.size
    assert(before >= 900, s"expected ~1k live files, got $before")
    t.compact() // retires all prior files
    t.expireSnapshots(keepLast = 1) // parallel delete pool reclaims ~1k
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val liveSet = t.currentSnapshot.get.liveFiles.toSet
    val onDisk = LakeTable.listParquet(fs,
      new Path(root, LakeTable.DATA_DIR))
      .map(p => LakeTable.relativePath(new Path(root), p)).toSet
    assert(onDisk == liveSet,
      s"expiry left ${onDisk.diff(liveSet).size} dead files / " +
        s"lost ${liveSet.diff(onDisk).size} live ones")
    assert(t.scan().count() == 4000)
  }

  test("write.distribution-mode=hash collapses per-task partition fanout") {
    import org.apache.spark.sql.functions.col
    val df = (1 to 4000).map(i => (i.toLong, s"v$i", i % 5)).toDF("id", "v", "p")
    val spread = df.repartition(8) // every task sees every partition
    // default: fanout — each of the 8 tasks writes each of 5 partitions
    val r1 = TestSpark.tmpDir("dist-none") + "/t"
    val t1 = LakeTable.create(spark, r1, df.schema, Seq("p"))
    t1.append(spread)
    assert(t1.currentSnapshot.get.liveFiles.size > 5,
      s"expected task-fanout file count, got ${t1.currentSnapshot.get.liveFiles.size}")
    // hash mode: rows cluster by partition value first — ~1 file each
    val r2 = TestSpark.tmpDir("dist-hash") + "/t"
    val t2 = LakeTable.create(spark, r2, df.schema, Seq("p"),
      properties = Map(LakeTable.PROP_DISTRIBUTION_MODE -> "hash"))
    t2.append(spread)
    assert(t2.currentSnapshot.get.liveFiles.size == 5,
      s"hash distribution should write one file per partition, got " +
        s"${t2.currentSnapshot.get.liveFiles}")
    // same content either way
    assert(t2.scan().orderBy("id").collect().toSeq ==
      t1.scan().orderBy("id").collect().toSeq)
    // overwrite takes the same path
    t2.overwrite(spread)
    assert(t2.currentSnapshot.get.liveFiles.size == 5)
    assert(t2.scan().where(col("p") === 3).count() == 800)
  }

  test("chunk codec round-trips every entry field") {
    val entries = Seq(
      ManifestEntry("data/p=1/f1.parquet", 3L,
        Map("id" -> ColStat("1", "9"), "v" -> ColStat("a", "z")),
        Map("v" -> "v_old"), FileInfo(1234L, 56L)),
      ManifestEntry("data/f2.parquet", 0L, Map.empty, Map.empty,
        FileInfo(0L, 0L)),
      ManifestEntry("data/f3.parquet", 7L, Map.empty, Map.empty,
        FileInfo(10L, 4L, Some(100L)), specId = 2L))
    val dir = new Path(TestSpark.tmpDir("chunk-codec"))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val name = ManifestIO.writeChunk(fs, dir, entries)
    assert(ManifestIO.isChunkFile(name))
    assert(ManifestIO.readChunk(fs, new Path(dir, name)) == entries)
  }

  test("summary-pruned scan loads strictly fewer chunks than exist") {
    val root = freshRoot
    val df0 = Seq((0L, "seed")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df0.schema)
    // four range-disjoint appends → four single-entry chunks (below the
    // fold fanout), each covering a distinct id range
    Seq(0L, 100L, 200L, 300L).foreach { lo =>
      t.append((lo until lo + 10).map(i => (i, s"r$i")).toDF("id", "v")
        .coalesce(1))
    }
    val head = t.currentSnapshot.get
    assert(head.manifests.size == 4, s"expected 4 chunks: ${head.manifests}")
    // every chunk carries an id summary in the list JSON
    assert(head.manifestSummaries.size == 4 &&
      head.manifestSummaries.values.forall(_.contains("id")))

    // a COLD handle (empty chunk cache) planning a selective scan must
    // materialize only the chunk whose summary covers the key
    val t2 = LakeTable.load(spark, root)
    import org.apache.spark.sql.functions.col
    val hit = t2.scan(col("id") === 105L)
    assert(hit.count() == 1)
    assert(t2.chunkLoads.get() == 1L,
      s"selective scan loaded ${t2.chunkLoads.get()} of 4 chunks")
    // ...and an unselective scan still sees everything (fresh handle,
    // correctness of the fallback-to-all path)
    val t3 = LakeTable.load(spark, root)
    assert(t3.scan(col("id") >= 0L).count() == 40)
    assert(t3.chunkLoads.get() == 4L)
    // partial and full plans agree on the selective result
    assert(t3.scan(col("id") === 105L).collect().toSeq ==
      hit.collect().toSeq)
  }

  test("materialize keeps chunk order and masks tombstoned entries") {
    val a = ManifestEntry("data/a.parquet", 4L,
      Map("id" -> ColStat("1", "2")), Map("v" -> "v0"), FileInfo(98L, 6L))
    val b = ManifestEntry("data/b.parquet", 5L, Map.empty, Map.empty,
      FileInfo(99L, 7L))
    val dead = b.copy(path = "data/dead.parquet")
    val skel = Snapshot(5L, Some(4L), 1000L, "append",
      Seq("data/b.parquet"), Nil, entries = VectorMap.empty,
      schemaJson = "{}", partitionColumns = Nil, properties = Map.empty,
      tombstones = Seq(dead.path))
    val rt = ManifestIO.materialize(skel, Seq(b, dead, a))
    assert(rt == skel.copy(entries = Snapshot.index(Seq(b, a))))
    assert(rt.liveFiles == Seq(b.path, a.path))
  }

  test("rewriteManifests re-clusters chunks so partition scans skip more") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot
    val df0 = Seq((0L, "a", "seed")).toDF("id", "p", "v")
    val t = LakeTable.create(spark, root, df0.schema,
      partitionBy = Seq("p"))
    // interleaved multi-partition appends: every commit writes one file
    // per partition, so every delta chunk SPANS both partitions and a
    // p-selective scan can skip nothing at the chunk level
    (0 until 4).foreach { k =>
      t.append(Seq((k * 2L, "a", s"a$k"), (k * 2 + 1L, "b", s"b$k"))
        .toDF("id", "p", "v"))
    }
    val before = t.currentSnapshot.get
    val rowsBefore = t.scan().orderBy("id").collect().toSeq

    val fresh1 = LakeTable.load(spark, root)
    fresh1.scan(col("p") === "a").count()
    val loadsBefore = fresh1.chunkLoads.get()

    t.rewriteManifests()
    val after = t.currentSnapshot.get
    // metadata-only: same files, same rows, one more snapshot
    assert(after.liveFiles.toSet == before.liveFiles.toSet)
    assert(after.operation == "rewrite-manifests")
    assert(t.scan().orderBy("id").collect().toSeq == rowsBefore)
    // chunks were actually rewritten (no reuse) and are path-sorted, so
    // the two hive partition dirs occupy disjoint chunks
    assert(after.manifests.toSet.intersect(before.manifests.toSet).isEmpty)

    val fresh2 = LakeTable.load(spark, root)
    assert(fresh2.scan(col("p") === "a").count() ==
      fresh1.scan(col("p") === "a").count())
    val loadsAfter = fresh2.chunkLoads.get()
    assert(loadsAfter < loadsBefore,
      s"partition scan loaded $loadsAfter chunks after rewrite, " +
        s"$loadsBefore before — re-clustering bought nothing")

    // SQL surface
    val snapId = after.snapshotId
    assert(t.rewriteManifests() == snapId + 1) // idempotent re-run commits
  }

  test("a chunk entry without its size fails the first cold read, naming the chunk") {
    val root = freshRoot
    val t = LakeTable.create(spark, root, spark.range(1).schema)
    // one file per partition: more entries than an inline chunk holds,
    // so the append writes a chunk file (an explicit width: output
    // sizing would write these 70 rows as one file)
    t.append(spark.range(0L, 70L, 1L, 70).toDF().coalesce(70))
    val chunk = t.currentSnapshot.get.manifests.find(ManifestIO.isChunkFile)
      .getOrElse(fail("no file-backed chunk"))
    val f = new java.io.File(s"$root/${LakeTable.METADATA_DIR}/$chunk")
    val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f))
    val json = try Snapshot.mapper.readTree(in) finally in.close()
    json.path("entries").get(0)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .remove("bytes")
    val out =
      new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f))
    try out.write(Snapshot.mapper.writeValueAsBytes(json)) finally out.close()
    val cold = LakeTable.load(spark, root)
    val e = intercept[IllegalStateException](cold.scan().collect())
    assert(e.getMessage.contains(chunk) && e.getMessage.contains("size"),
      e.getMessage)
    intercept[IllegalStateException](LakeTable.load(spark, root).countRows())
  }

  test("warm and cold handles agree on every entry across a mixed op sequence") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = freshRoot
    def batch(ids: Range, v: String) =
      ids.map(i => (i.toLong, s"$v$i", s"p${i % 2}")).toDF("id", "v", "p")
    val t = LakeTable.create(spark, root, batch(0 until 0, "").schema)
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    // a reference for the current content, kept by id
    var expect = Map.empty[Long, String]
    def put(ids: Range, v: String): Unit =
      ids.foreach(i => expect += i.toLong -> s"$i|$v$i|p${i % 2}")
    def check(step: String): Unit = {
      val warm = t.currentSnapshot.get
      val cold = LakeTable.load(spark, root)
      assert(cold.currentSnapshot.get.entries == warm.entries, step)
      assert(warm.entries.values.forall(e =>
        e.seq >= 2L && e.seq <= warm.snapshotId), step)
      val got = rows(t.scan())
      assert(got == expect.values.toSeq.sorted, step)
      assert(rows(cold.scan()) == got, step)
    }
    t.append(batch(1 until 21, "a")); put(1 until 21, "a"); check("append")
    t.merge(batch(15 until 26, "m"), Seq("id")); put(15 until 26, "m")
    check("copy-on-write merge")
    t.setProperties(Map(LakeTable.PROP_MERGE_MODE -> "merge-on-read"))
    t.merge(batch(1 until 6, "r"), Seq("id")); put(1 until 6, "r")
    check("merge-on-read merge")
    val morId = t.currentSnapshot.get.snapshotId
    val morExpect = expect
    t.renameColumn("v", "w")
    assert(t.currentSnapshot.get.entries.values
      .forall(_.renames.get("w").contains("v")))
    check("rename")
    t.evolvePartitionSpec(Seq("p"))
    t.append(batch(30 until 33, "e").withColumnRenamed("v", "w"))
    put(30 until 33, "e"); check("evolve spec + append")
    t.rollbackTo(morId); expect = morExpect; check("rollback")
    assert(t.currentSnapshot.get.entries ==
      t.snapshot(morId).entries, "rollback restores the target's entries")
    t.compact(); check("compact")
    assert(t.scan().where(col("v") === lit("r1")).count() == 1)
  }
}
