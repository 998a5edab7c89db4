package graft.lake

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Regression coverage for the manifest-stats MERGE/DELETE pruning:
  * driver-side logic that silently drops rows from data-rewriting commits
  * if a bound is mis-encoded — the riskiest kind of untested code. */
class StatsPruningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot = TestSpark.tmpDir("statsprune") + "/t"

  /** 8 single-file appends with disjoint id ranges [i*100, i*100+99]. */
  private def eightFileTable(root: String): LakeTable = {
    val first = (0L to 99L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, root, first.schema)
    (0 until 8).foreach { b =>
      val lo = b * 100L
      t.append((lo to lo + 99L).map(i => (i, s"v$i")).toDF("id", "v")
        .repartition(1))
    }
    t
  }

  test("pruneByStats narrows a single-key merge to one candidate file") {
    val t = eightFileTable(freshRoot)
    val base = t.currentSnapshot.get
    assert(base.liveFiles.size == 8)
    val src = Seq((250L, "updated")).toDF("id", "v")
    val candidates = t.pruneByStats(base, src, Seq("id"))
    assert(candidates.size == 1,
      s"expected 1 candidate, got ${candidates.size}: $candidates")
    // and it is the file actually holding id=250 (range [200, 299])
    assert(base.entries(candidates.head).stats("id") ==
      ColStat("200", "299"))
  }

  test("stats-less legacy manifest keeps the full candidate set") {
    val t = eightFileTable(freshRoot)
    val base = t.currentSnapshot.get
    val legacy = base.copy(entries = Snapshot.index(
      base.entries.values.map(_.copy(stats = Map.empty))))
    val src = Seq((250L, "updated")).toDF("id", "v")
    assert(t.pruneByStats(legacy, src, Seq("id")) == legacy.liveFiles)
    // and a merge against such a manifest still produces correct data:
    // rewrite the snapshot's manifest as one stats-less chunk (no
    // chunk summaries either)
    val metaDir = new org.apache.hadoop.fs.Path(t.root, LakeTable.METADATA_DIR)
    val mPath = new org.apache.hadoop.fs.Path(metaDir,
      ManifestIO.docName(base.snapshotId))
    val fs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
    val chunk = ManifestIO.writeChunk(fs, metaDir,
      legacy.entries.values.toSeq)
    fs.delete(mPath, false)
    ManifestIO.writeDoc(fs, metaDir, legacy.copy(manifests = Seq(chunk),
      manifestSummaries = Map.empty, tombstones = Nil))
    val t2 = LakeTable.load(spark, t.root)
    t2.merge(src, Seq("id"))
    val got = t2.scan().where($"id" === 250L).collect()
    assert(got.map(_.getString(1)).toSeq == Seq("updated"))
    assert(t2.scan().count() == 800)
  }

  test("disjoint-range merge is a pure insert (zero files rewritten)") {
    val t = eightFileTable(freshRoot)
    val src = Seq((5000L, "new")).toDF("id", "v")
    t.merge(src, Seq("id"))
    val snap = t.currentSnapshot.get
    assert(snap.operation == "merge")
    assert(snap.removedFiles.isEmpty,
      s"pure insert should rewrite nothing, removed: ${snap.removedFiles}")
    assert(t.scan().count() == 801)
  }

  test("pruned merge result equals unpruned semantics across key types") {
    // one table per key type; two disjoint single-file batches + a source
    // touching only batch 2 plus a null key and a fresh insert
    def run[T](name: String, mk: Long => T)(implicit
        enc: org.apache.spark.sql.Encoder[(T, String)],
        enc2: org.apache.spark.sql.Encoder[(Option[T], String)]): Unit = {
      val root = TestSpark.tmpDir(s"statsprune-$name") + "/t"
      val b1 = (1L to 50L).map(i => (mk(i), s"a$i")).toDF("k", "v")
      val t = LakeTable.create(spark, root, b1.schema)
      t.append(b1.repartition(1))
      t.append((51L to 100L).map(i => (mk(i), s"a$i")).toDF("k", "v")
        .repartition(1))
      val src = (Seq((Option(mk(60L)), "upd"), (Option(mk(200L)), "ins"),
        (Option.empty[T], "nullkey"))).toDF("k", "v")
      val base = t.currentSnapshot.get
      val pruned = t.pruneByStats(base, src.na.drop(Seq("k")), Seq("k"))
      assert(pruned.size == 1,
        s"[$name] expected 1 candidate of ${base.liveFiles.size}: $pruned")
      t.merge(src, Seq("k"))
      val got = t.scan()
      assert(got.count() == 102, s"[$name] wrong row count") // 100+ins+null
      assert(got.where($"v" === "upd").count() == 1, s"[$name] update lost")
      assert(got.where($"v" === "a60").count() == 0,
        s"[$name] stale row survived")
      assert(got.where($"v" === "ins").count() == 1, s"[$name] insert lost")
      assert(got.where($"k".isNull && $"v" === "nullkey").count() == 1,
        s"[$name] null-key insert lost")
    }
    run[Long]("long", identity)
    run[String]("string", i => f"k$i%05d")
    run[Date]("date", i => Date.valueOf(java.time.LocalDate
      .of(2020, 1, 1).plusDays(i)))
    run[Timestamp]("timestamp", i => new Timestamp(1600000000000L + i * 1000))
  }

  test("NaN-bearing double column records no bounds and never mis-prunes") {
    val root = freshRoot
    val df = Seq((1.0, "one"), (Double.NaN, "nan")).toDF("k", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df.repartition(1))
    val base = t.currentSnapshot.get
    // the NaN-poisoned footer stats must have been dropped for k
    base.entries.values.foreach(e => assert(!e.stats.contains("k"),
      s"NaN-bearing column kept bounds: ${e.stats.get("k")}"))
    // so a merge on k=1.0 still finds the file and updates the row
    t.merge(Seq((1.0, "ONE")).toDF("k", "v"), Seq("k"))
    assert(t.scan().where($"v" === "ONE").count() == 1)
  }

  test("-0.0 file bound matches a 0.0 source key (and vice versa)") {
    val root = freshRoot
    val df = Seq((-0.0, "negzero"), (5.0, "five")).toDF("k", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df.repartition(1))
    // source key +0.0 must not be range-pruned away from the -0.0 file
    t.merge(Seq((0.0, "ZERO")).toDF("k", "v"), Seq("k"))
    assert(t.scan().where($"v" === "ZERO").count() == 1,
      "merge on 0.0 missed the -0.0 row")
    assert(t.scan().where($"v" === "negzero").count() == 0)
  }

  test("encodePartitionValue: FP widening, NaN, and Float round-trip") {
    import org.apache.spark.sql.types._
    // ±0.0 widening: a -0.0 (or +0.0) partition stores bounds [-0.0, 0.0]
    assert(FileStats.encodePartitionValue(DoubleType, "-0.0")
      .contains(ColStat("-0.0", "0.0")))
    assert(FileStats.encodePartitionValue(DoubleType, "0.0")
      .contains(ColStat("-0.0", "0.0")))
    // NaN partition records NO stat (conservatively kept by every prune)
    assert(FileStats.encodePartitionValue(DoubleType, "NaN").isEmpty)
    assert(FileStats.encodePartitionValue(FloatType, "NaN").isEmpty)
    // FloatType must decode through Float: boundExpr widens source
    // floats exactly (0.1f -> 0.10000000149...), so the path value must
    // land on the same double — NOT raw.toDouble's 0.1
    val enc = FileStats.encodePartitionValue(FloatType, "0.1").get
    assert(enc == ColStat(0.1f.toDouble.toString, 0.1f.toDouble.toString))
    assert(enc.min.toDouble != 0.1d)
    // DoubleType decodes direct
    assert(FileStats.encodePartitionValue(DoubleType, "0.1")
      .contains(ColStat("0.1", "0.1")))
  }

  test("double-partitioned table: -0.0 partition matched by 0.0 key, NaN kept") {
    val root = freshRoot
    val df = Seq((-0.0d, 1L, "negzero"), (Double.NaN, 2L, "nan"),
      (5.0d, 3L, "five")).toDF("x", "id", "v")
    val t = LakeTable.create(spark, root, df.schema, partitionBy = Seq("x"))
    t.append(df.repartition(1))
    val base = t.currentSnapshot.get
    // the NaN partition carries no x-stat (never pruned); -0.0 carries
    // the widened [-0.0, 0.0] partition bounds
    val negzeroFile = base.liveFiles.find(_.contains("x=-0.0")).get
    assert(base.entries(negzeroFile).stats("x") == ColStat("-0.0", "0.0"))
    val nanFile = base.liveFiles.find(_.contains("x=NaN")).get
    assert(!base.entries(nanFile).stats.contains("x"),
      "NaN partition must record no bounds")
    // a source key +0.0 must keep the -0.0 partition as a candidate and
    // the merge must land the update there
    val pruned = t.pruneByStats(base,
      Seq((0.0d, 1L, "upd")).toDF("x", "id", "v"), Seq("x"))
    assert(pruned.contains(negzeroFile),
      s"-0.0 partition pruned against source 0.0: $pruned")
    t.merge(Seq((0.0d, 1L, "ZERO")).toDF("x", "id", "v"), Seq("x"))
    assert(t.scan().where($"v" === "ZERO").count() == 1)
    assert(t.scan().where($"v" === "negzero").count() == 0)
    // and a COW predicate delete on x = 0.0 removes the -0.0-partition row
    t.delete($"x" === 0.0d)
    assert(t.scan().where($"id" === 1L).count() == 0,
      "delete(x === 0.0) missed the -0.0 partition")
    assert(t.scan().where($"v" === "nan").count() == 1,
      "NaN partition must survive unrelated deletes")
  }

  test("float-partitioned table: non-dyadic partition value still matched") {
    val root = freshRoot
    // 0.1f is not exactly representable: raw.toDouble("0.1") != 0.1f as
    // double — the regression the FloatType decode split fixes
    val df = Seq((0.1f, 1L, "a"), (2.5f, 2L, "b")).toDF("x", "id", "v")
    val t = LakeTable.create(spark, root, df.schema, partitionBy = Seq("x"))
    t.append(df.repartition(1))
    val base = t.currentSnapshot.get
    val src = Seq((0.1f, 1L, "upd")).toDF("x", "id", "v")
    val pruned = t.pruneByStats(base, src, Seq("x"))
    assert(pruned.exists(_.contains("x=0.1")),
      s"float partition x=0.1 wrongly pruned: $pruned")
    t.merge(src, Seq("x"))
    assert(t.scan().where($"v" === "upd").count() == 1,
      "merge on float key 0.1 missed its partition")
    assert(t.scan().where($"v" === "b").count() == 1)
  }

  test("snapshot JSON round-trips fileStats exactly") {
    val snap = Snapshot(
      snapshotId = 7L, parentId = Some(6L), timestampMs = 123456789L,
      operation = "merge",
      addedFiles = Seq("data/p=a/f1.parquet"),
      removedFiles = Seq("data/p=a/f0.parquet"),
      entries = Snapshot.index(Seq(
        ManifestEntry("data/p=a/f1.parquet", 7L, Map(
          "id" -> ColStat("-5", "10"),
          "s" -> ColStat("aa", "zzé"),
          "d" -> ColStat("-0.0", "3.14")), Map.empty, FileInfo(4096L, 120L)),
        ManifestEntry("data/p=b/f2.parquet", 5L,
          Map("id" -> ColStat("11", "20")), Map.empty, FileInfo(1024L, 9L)))),
      schemaJson = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))).json,
      partitionColumns = Seq("p"),
      properties = Map("write.parquet.compression-codec" -> "zstd"),
      deletes = Seq(PosDeleteFile("deletes/pd1.parquet", 7L)))
    val got = SnapshotRoundTrip(snap)
    assert(got == snap.copy(manifests = got.manifests))
  }

  test("merge on a stats-supported partition column prunes to the partition") {
    val root = freshRoot
    val df = (1L to 90L).map(i => (i, s"v$i", s"p${i % 3}"))
      .toDF("id", "v", "p")
    val t = LakeTable.create(spark, root, df.schema, Seq("p"))
    t.append(df)
    val base = t.currentSnapshot.get
    assert(base.liveFiles.size >= 3)
    val src = Seq((7L, "upd", "p1")).toDF("id", "v", "p")
    val candidates = t.pruneByStats(base, src, Seq("id", "p"))
    // every candidate must be in the p=p1 partition directory
    assert(candidates.nonEmpty)
    assert(candidates.forall(_.contains("p=p1")),
      s"candidates outside p=p1: $candidates")
  }
}
