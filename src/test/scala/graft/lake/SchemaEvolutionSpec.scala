package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Schema evolution as metadata-only commits: add/rename/drop column
  * without rewriting a byte of data, old files reading correctly through
  * the manifest's name mapping (the name-mapped equivalent of Iceberg's
  * field-id indirection), plus TIMESTAMP AS OF time travel. */
class SchemaEvolutionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot = TestSpark.tmpDir("evolve") + "/t"

  test("addColumn: old files read NULL, new writes carry values") {
    val root = freshRoot
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    t.addColumn("score", DoubleType)
    assert(t.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    t.append(Seq((3L, "c", 1.5)).toDF("id", "v", "score"))
    val got = t.scan().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a", null), (2L, "b", null),
      (3L, "c", 1.5)))
    // no data was rewritten: the evolve commit added/removed nothing
    val evolve = t.snapshots.find(_.operation == "evolve-schema").get
    assert(evolve.addedFiles.isEmpty && evolve.removedFiles.isEmpty)
  }

  test("renameColumn: zero rewrite, mixed-era files read consistently") {
    val root = freshRoot
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "amt")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    val filesBefore = t.currentSnapshot.get.liveFiles.toSet
    t.renameColumn("amt", "amount")
    assert(t.currentSnapshot.get.liveFiles.toSet == filesBefore,
      "rename must not rewrite data files")
    // post-rename write uses the new physical name
    t.append(Seq((3L, "c", 30.0)).toDF("id", "v", "amount"))
    val got = t.scan().orderBy("id")
      .select("id", "amount").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // filters on the renamed column reach both eras
    assert(t.scan().where($"amount" > 15.0).count() == 2)
  }

  test("rename chains compose (a -> b -> c)") {
    val root = freshRoot
    val df = Seq((1L, "x")).toDF("id", "a")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    t.renameColumn("a", "b")
    t.append(Seq((2L, "y")).toDF("id", "b"))
    t.renameColumn("b", "c")
    t.append(Seq((3L, "z")).toDF("id", "c"))
    val got = t.scan().orderBy("id").select("c").as[String].collect()
    assert(got.toSeq == Seq("x", "y", "z"))
    // three eras, three distinct physical names, one logical column
    val snap = t.currentSnapshot.get
    val physNames = snap.entries.values
      .map(_.renames.getOrElse("c", "c")).toSet
    assert(physNames == Set("a", "b", "c"))
  }

  test("merge across renamed key column prunes and rewrites correctly") {
    val root = freshRoot
    val df = (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df.repartition(1))
    t.renameColumn("k", "key")
    t.append((51L to 100L).map(i => (i, s"v$i")).toDF("key", "v")
      .repartition(1))
    // stats were rekeyed at rename: a merge on `key` still prunes to
    // the one file whose range contains the source key
    val base = t.currentSnapshot.get
    val pruned = t.pruneByStats(base,
      Seq((10L, "upd")).toDF("key", "v"), Seq("key"))
    assert(pruned.size == 1, s"expected 1 candidate, got $pruned")
    t.merge(Seq((10L, "upd"), (60L, "upd2")).toDF("key", "v"), Seq("key"))
    val got = t.scan().where($"v".startsWith("upd"))
      .select("key").as[Long].collect().toSet
    assert(got == Set(10L, 60L))
    assert(t.scan().count() == 100)
  }

  test("dropColumn then re-adding the SAME name reads NULL, not dead bytes") {
    val root = freshRoot
    val df = Seq((1L, "a", 5), (2L, "b", 6)).toDF("id", "v", "n")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    t.dropColumn("n")
    assert(t.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(t.scan().columns.toSeq == Seq("id", "v"))
    // the old files still carry dead bytes under `n`; Iceberg field-id
    // semantics say a re-added column reads NULL — the absent-name
    // mapping must mask the resurrection
    t.addColumn("n", IntegerType)
    assert(t.scan().where($"n".isNull).count() == 2,
      "dropColumn + addColumn resurrected dead bytes")
    t.append(Seq((3L, "c", 9)).toDF("id", "v", "n"))
    val got = t.scan().orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1 else r.getInt(2)))
    assert(got.toSeq == Seq((1L, -1), (2L, -1), (3L, 9)))
  }

  test("rename then re-adding the OLD name: reads stay consistent") {
    val root = freshRoot
    val df = Seq((1L, "x1")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    t.renameColumn("v", "w") // old file's physical name for w is "v"
    t.addColumn("v", StringType) // legal: "v" is free in the CURRENT schema
    t.append(Seq((2L, "x2", "new2")).toDF("id", "w", "v"))
    val got = t.scan().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2)))
    // w carries the original v data; the re-added v is NULL for the old
    // file (no physical-name collision, no resurrection)
    assert(got.toSeq == Seq((1L, "x1", null), (2L, "x2", "new2")))
  }

  test("partition columns cannot be renamed or dropped") {
    val root = freshRoot
    val df = Seq((1L, "a", "p0")).toDF("id", "v", "p")
    val t = LakeTable.create(spark, root, df.schema, Seq("p"))
    t.append(df)
    intercept[IllegalArgumentException](t.renameColumn("p", "q"))
    intercept[IllegalArgumentException](t.dropColumn("p"))
  }

  test("time travel sees the pre-evolution schema; timestamp travel works") {
    val root = freshRoot
    val df = Seq((1L, "a", 1.0)).toDF("id", "v", "amt")
    val t = LakeTable.create(spark, root, df.schema)
    val sAppend = t.append(df)
    val tsAfterAppend = t.snapshot(sAppend).timestampMs
    Thread.sleep(5)
    t.renameColumn("amt", "amount")
    t.addColumn("extra", StringType)
    // VERSION AS OF: old snapshot, old schema
    assert(t.scanAt(sAppend).columns.toSeq == Seq("id", "v", "amt"))
    assert(t.scanAt(sAppend).count() == 1)
    // TIMESTAMP AS OF: resolves to the append snapshot
    val tt = t.scanAtTimestamp(tsAfterAppend)
    assert(tt.columns.toSeq == Seq("id", "v", "amt"))
    assert(tt.count() == 1)
    // current sees the evolved schema
    assert(t.scan().columns.toSeq == Seq("id", "v", "amount", "extra"))
    intercept[IllegalArgumentException](t.scanAtTimestamp(0L))
  }

  test("incremental scan across an evolve commit is transparent") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    val s1 = t.append(df)
    t.addColumn("extra", StringType)
    val s3 = t.append(Seq((2L, "b", "e2")).toDF("id", "v", "extra"))
    val inc = t.incrementalScan(s1, s3)
    assert(inc.columns.toSeq == Seq("id", "v", "extra"))
    assert(inc.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("auto-evolve: append/merge with new source columns grows schema") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_AUTO_EVOLVE -> "true"))
    t.append(df)
    // append with an extra column: schema evolves, old rows read NULL
    t.append(Seq((2L, "b", "fr")).toDF("id", "v", "lang"))
    assert(t.schema.fieldNames.toSeq == Seq("id", "v", "lang"))
    assert(t.scan().where($"lang".isNull).select("id").as[Long]
      .collect().toSeq == Seq(1L))
    // merge with yet another column evolves too
    t.merge(Seq((1L, "A", "en", 5L)).toDF("id", "v", "lang", "score"),
      Seq("id"))
    assert(t.schema.fieldNames.toSeq == Seq("id", "v", "lang", "score"))
    assert(t.scan().where($"id" === 1L)
      .select("v", "lang", "score").collect().head.toSeq ==
      Seq("A", "en", 5L))
    assert(t.scan().where($"id" === 2L).select("score")
      .collect().head.isNullAt(0))
  }

  test("widenColumnType: int->long and float->double across file eras") {
    val root = freshRoot
    val df = Seq((1, 1.5f), (2, 2.5f)).toDF("i", "f")
    val t = LakeTable.create(spark, root, df.schema)
    val v1 = t.append(df.coalesce(1))
    t.widenColumnType("i", LongType)
    t.widenColumnType("f", DoubleType)
    assert(t.schema("i").dataType == LongType &&
      t.schema("f").dataType == DoubleType)
    // post-widen writes carry values only a wide type can hold
    t.append(Seq((3000000000L, 3.5)).toDF("i", "f").coalesce(1))
    assert(t.scan().as[(Long, Double)].collect().toSet ==
      Set((1L, 1.5), (2L, 2.5), (3000000000L, 3.5)))
    // pruned reads stay sound across eras: the predicate is typed at
    // the WIDE type but must still find rows in narrow-era files
    // (their int-era min/max stats re-parse under the wide type)
    assert(t.scan(col("i") === 2L).as[(Long, Double)]
      .collect().toSeq == Seq((2L, 2.5)))
    assert(t.scan(col("f") === 1.5d).count() == 1)
    assert(t.scan(col("i") === 3000000000L).count() == 1)
    // narrowing and cross-domain changes are refused
    intercept[IllegalArgumentException] {
      t.widenColumnType("i", IntegerType)
    }
    intercept[IllegalArgumentException] {
      t.widenColumnType("f", StringType)
    }
    // time travel still reads the narrow era under its own schema
    assert(t.scanAt(v1).schema("i").dataType == IntegerType)
  }

  test("widenColumnType: outstanding MOR equality deletes apply " +
      "exactly across the widen (batched declared-schema read)") {
    // the equality-delete artifacts are now read as ONE multi-path scan
    // per (keys, physicalKeys) group under the CURRENT key types (r19:
    // kills a plan-time footer-inference job per artifact per scan) —
    // a key widened AFTER a delete was written must therefore read the
    // narrow-era artifact under the wide declared type, and per-file
    // delete ERAS must survive the batching (a row re-inserted after
    // its delete stays live)
    val root = freshRoot
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("i", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    t.append(df.coalesce(1))
    t.deleteByKeys(Seq(1).toDF("i"), Seq("i"))      // narrow-era artifact
    t.append(Seq((1, "a2")).toDF("i", "v").coalesce(1)) // re-insert: newer era
    t.deleteByKeys(Seq(2).toDF("i"), Seq("i"))      // second artifact
    t.widenColumnType("i", LongType)
    t.deleteByKeys(Seq(3L).toDF("i"), Seq("i"))     // wide-era artifact
    // 1 survives as the re-inserted row; 2 and 3 are gone
    assert(t.scan().as[(Long, String)].collect().toSet ==
      Set((1L, "a2")))
    // time travel before the widen applies the narrow-era deletes too
    // (snapshot 5 = after delete(2): create=1, append=2, delete(1)=3,
    // re-insert=4, delete(2)=5, widen=6, delete(3)=7)
    assert(t.scanAt(5).as[(Int, String)].collect().toSet ==
      Set((1, "a2"), (3, "c")))
  }

  test("widenColumnType: decimal growth and date->timestamp_ntz") {
    val root = freshRoot
    val df = Seq((BigDecimal("1.23"), java.sql.Date.valueOf("2020-03-04")))
      .toDF("dec", "dt")
      .select(col("dec").cast(DecimalType(5, 2)).as("dec"), col("dt"))
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df.coalesce(1))
    t.widenColumnType("dec", DecimalType(12, 4))
    t.widenColumnType("dt", TimestampNTZType)
    val row = t.scan().collect().head
    assert(row.getDecimal(0) == new java.math.BigDecimal("1.2300"))
    assert(row.getAs[java.time.LocalDateTime](1) ==
      java.time.LocalDateTime.of(2020, 3, 4, 0, 0))
    // the old date-domain stats are dropped, not misread as micros:
    // an ntz predicate must still FIND the narrow-era row
    assert(t.scan(col("dt") ===
      lit("2020-03-04 00:00:00").cast("timestamp_ntz")).count() == 1)
    // decimal scale shrink refused even when precision grows
    intercept[IllegalArgumentException] {
      t.widenColumnType("dec", DecimalType(20, 2))
    }
  }

  test("widenColumnType: bloom-tracked column survives the domain flip") {
    val root = freshRoot
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map("write.bloom.columns" -> "k"))
    t.append(df.coalesce(1))
    t.widenColumnType("k", LongType)
    // the int-domain bloom was dropped with the widen: a long-typed
    // probe of a narrow-era file must not false-negative away its rows
    assert(t.scan(col("k") === 2L).count() == 1)
    // and a fresh write rebuilds blooms in the long domain
    t.append(Seq((5000000000L, "c")).toDF("k", "v").coalesce(1))
    assert(t.scan(col("k") === 5000000000L).count() == 1)
  }

  test("auto-evolve widens an existing column when the source is wider") {
    val root = freshRoot
    val df = Seq((1, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_AUTO_EVOLVE -> "true"))
    t.append(df)
    // a LONG source lands in the INT column: the table widens instead
    // of the write narrowing 3000000000 into garbage
    t.append(Seq((3000000000L, "b")).toDF("id", "v"))
    assert(t.schema("id").dataType == LongType)
    assert(t.scan().select("id").as[Long].collect().toSet ==
      Set(1L, 3000000000L))
  }

  test("auto-evolve resolves names case-insensitively (analyzer parity)") {
    // spark.sql.caseSensitive defaults to false, so a source 'ID' IS
    // the table's 'id' — auto-evolve must not add a case-duplicate
    // column (which would make every later read ambiguous), and the
    // write must land the values in the existing column.
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_AUTO_EVOLVE -> "true"))
    t.append(df)
    t.append(Seq((2L, "b", "fr")).toDF("ID", "V", "Lang"))
    assert(t.schema.fieldNames.toSeq == Seq("id", "v", "Lang"),
      "ID/V must resolve to existing id/v; only Lang is genuinely new")
    assert(t.scan().where($"id" === 2L).select("v", "Lang")
      .collect().head.toSeq == Seq("b", "fr"))
  }

  test("auto-evolve: a CDC merge's delete-condition column stays out") {
    val root = freshRoot
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema,
      properties = Map(LakeTable.PROP_AUTO_EVOLVE -> "true"))
    t.append(df)
    t.merge(Seq((1L, "A", "U"), (2L, "b", "D")).toDF("id", "v", "Op"),
      Seq("id"), deleteWhen = Some(col("Op") === "D"))
    assert(t.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(t.scan().as[(Long, String)].collect().toSeq == Seq((1L, "A")))
  }

  test("auto-evolve off: extra source columns are dropped, not added") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(Seq((2L, "b", "dropped")).toDF("id", "v", "extra"))
    assert(t.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(t.scan().count() == 1)
  }

  test("snapshot JSON round-trips fileRenames") {
    val snap = Snapshot(3L, Some(2L), 99L, "evolve-schema", Nil, Nil,
      Snapshot.index(Seq(
        ManifestEntry("data/f1.parquet", 2L, Map("id" -> ColStat("1", "2")),
          Map("id" -> "old_id"), FileInfo(10L, 1L)),
        ManifestEntry("data/f2.parquet", 2L, Map.empty, Map.empty,
          FileInfo(10L, 1L)))),
      StructType(Seq(StructField("id", LongType))).json, Nil, Map.empty)
    val got = SnapshotRoundTrip(snap)
    assert(got == snap.copy(manifests = got.manifests))
  }
}
