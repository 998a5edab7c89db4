package graft.lake

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
      vJsonSizes :+= after(s"v$id.json")
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
        val doc = Snapshot.mapper.readTree(LakeTable.readString(fsys,
          new Path(root, s"${LakeTable.METADATA_DIR}/v$id.json")))
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
      Seq(ManifestEntry("data/x.parquet", 9L, Map.empty, Map.empty, None)))
    assert(orphan.startsWith("m-") && orphan.endsWith(".json.gz"), orphan)
    val removed = t.removeOrphanFiles(olderThanMs = 0L)
    assert(removed.contains(s"${LakeTable.METADATA_DIR}/$orphan"),
      s"orphan chunk not swept: $removed")
    assert(!fs.exists(new Path(metaDir, orphan)))
    assert(t.scan().count() == 1)
  }

  test("one-partition COW delete on a 200-file table writes one compressed chunk") {
    import org.apache.spark.sql.functions.sum
    val root = freshRoot
    // rows ordered by partition and round-robined over 4 tasks: every
    // task writes every one of the 50 partitions, ~200 files in ONE
    // file-backed chunk (above the inline bound, below the target)
    val df = (0 until 1000).map(i => (i.toLong, s"v$i", i / 20))
      .toDF("id", "v", "p")
    val t = LakeTable.create(spark, root, df.schema, Seq("p"))
    t.append(df.repartition(4))
    val base = t.currentSnapshot.get
    assert(base.liveFiles.size > LakeTable.INLINE_CHUNK_MAX_ENTRIES &&
      base.liveFiles.size <= ManifestIO.ChunkTargetEntries,
      s"${base.liveFiles.size} files")
    assert(base.manifests.size == 1 &&
      ManifestIO.isChunkFile(base.manifests.head), base.manifests)
    // a row-level delete in partition 7 rewrites that chunk whole; its
    // compact gzip form is a few KiB
    val before = metaFiles(root)
    t.delete($"p" === 7 && $"id" % 2 === 0)
    val written = metaFiles(root).collect {
      case (n, len) if !before.get(n).contains(len) => len
    }.sum
    assert(written < 16 * 1024,
      s"a one-partition delete wrote $written B of metadata")
    val snap = t.currentSnapshot.get
    assert(snap.removedFiles.nonEmpty && snap.addedFiles.nonEmpty,
      "expected a copy-on-write rewrite")
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
        Map("v" -> "v_old"), Some(FileInfo(1234L, 56L))),
      ManifestEntry("data/f2.parquet", 0L, Map.empty, Map.empty, None),
      ManifestEntry("data/f3.parquet", 7L, Map.empty, Map.empty,
        Some(FileInfo(10L, -1L))))
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

  test("entriesOf/materialize invert each other") {
    val snap = Snapshot(5L, Some(4L), 1000L, "append",
      Seq("data/b.parquet"), Nil,
      liveFiles = Seq("data/a.parquet", "data/b.parquet"),
      schemaJson = "{}", partitionColumns = Nil, properties = Map.empty,
      fileStats = Map("data/a.parquet" -> Map("id" -> ColStat("1", "2"))),
      fileRenames = Map("data/a.parquet" -> Map("v" -> "v0")),
      fileSeq = Map("data/a.parquet" -> 4L, "data/b.parquet" -> 5L),
      fileInfo = Map("data/b.parquet" -> FileInfo(99L, 7L)))
    val rt = ManifestIO.materialize(snap.copy(liveFiles = Nil,
      fileStats = Map.empty, fileRenames = Map.empty, fileSeq = Map.empty,
      fileInfo = Map.empty), ManifestIO.entriesOf(snap))
    assert(rt == snap)
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
}
