package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SQL DML + time-travel text surface (see [[LakeSql]]): the
  * reference drives its silver merge as a SQL string
  * (scripts/bronze-silver.py:213, text :254-269) — that literal shape
  * must run against catalog tables. */
class LakeSqlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCat = new LakeCatalog(spark, TestSpark.tmpDir("lakesql"))

  /** The reference's merge_query shape verbatim (dedup-window subquery
    * over __temp_table, star actions), with the ON clause completed to
    * its documented key (reference wart: the text truncates at
    * `ON target...`; the key is invoiceid per the dedup partition key,
    * scripts/bronze-silver.py:261). */
  private val referenceMergeQuery = """
MERGE INTO silver_orders AS target
USING (
    SELECT *
    FROM (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY invoiceid
                   ORDER BY processed_time DESC
               ) AS row_num
        FROM __temp_table
    ) AS deduped_source
    WHERE row_num = 1
) AS source
ON target.invoiceid = source.invoiceid
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *
"""

  test("the reference's literal MERGE INTO text upserts through the catalog") {
    val cat = freshCat
    cat.createNamespace("ns")
    val tgt = Seq((1L, "keep", 100L), (2L, "stale", 100L))
      .toDF("invoiceid", "category", "processed_time")
    cat.createTable("ns", "silver_orders", tgt.schema)
    cat.loadTable("ns", "silver_orders").append(tgt)
    // batch with in-batch duplicates: the window dedup must pick the
    // LATEST processed_time per key before the upsert
    Seq((2L, "old", 200L), (2L, "new", 300L), (3L, "insert", 200L))
      .toDF("invoiceid", "category", "processed_time")
      .createOrReplaceTempView("__temp_table")
    cat.sql("ns", referenceMergeQuery)
    val got = cat.sql("ns",
      "SELECT invoiceid, category FROM silver_orders ORDER BY invoiceid")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "keep"), (2L, "new"), (3L, "insert")))
    spark.catalog.dropTempView("__temp_table")
  }

  test("DELETE FROM and UPDATE text route to the lake table") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = (1 to 10).map(i => (i.toLong, s"v$i", i % 2 == 0))
      .toDF("id", "v", "even")
    cat.createTable("ns", "t", df.schema)
    cat.loadTable("ns", "t").append(df)
    cat.sql("ns", "DELETE FROM t WHERE even")
    assert(cat.sql("ns", "SELECT count(*) AS n FROM t").head.getLong(0) == 5)
    cat.sql("ns", "UPDATE t SET v = concat(v, '!') WHERE id <= 3")
    val got = cat.sql("ns", "SELECT id, v FROM t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "v1!"), (3L, "v3!"), (5L, "v5"),
      (7L, "v7"), (9L, "v9")))
  }

  test("DELETE and UPDATE with IN/EXISTS subquery predicates") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    cat.createTable("ns", "t", df.schema)
    cat.loadTable("ns", "t").append(df)
    val probe = Seq(2L, 4L, 11L).toDF("pid")
    cat.createTable("ns", "probe", probe.schema)
    cat.loadTable("ns", "probe").append(probe)
    // IN (SELECT …) against another CATALOG table
    cat.sql("ns", "DELETE FROM t WHERE id IN (SELECT pid FROM probe)")
    assert(cat.sql("ns", "SELECT count(*) AS n FROM t").head.getLong(0) == 8)
    // NOT EXISTS with a correlated subquery — t.id is a TARGET
    // qualifier (stripped for the single-table rewrite), p.pid an
    // inner alias (kept for the subquery's own resolution)
    cat.sql("ns",
      """UPDATE t SET v = 'orphan'
        |WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.pid = t.id)
        |  AND t.id > 8""".stripMargin)
    val got = cat.sql("ns", "SELECT id, v FROM t WHERE id > 8 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((9L, "orphan"), (10L, "orphan")))
  }

  test("UPDATE SET with a scalar subquery value") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal")
    cat.createTable("ns", "t", df.schema)
    cat.loadTable("ns", "t").append(df)
    Seq(5.0).toDF("bonus").createOrReplaceTempView("__bonus")
    cat.sql("ns",
      "UPDATE t SET bal = bal + (SELECT max(bonus) FROM __bonus) WHERE id = 1")
    assert(cat.sql("ns", "SELECT id, bal FROM t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 15.0), (2L, 20.0)))
  }

  test("MERGE with an explicit SET assignment routes to the general path") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.createTable("ns", "t", df.schema)
    cat.loadTable("ns", "t").append(df)
    Seq((1L, "zzz")).toDF("id", "v").createOrReplaceTempView("__src")
    // explicit SET assignments (not SET *) take the general clause path
    cat.sql("ns",
      """MERGE INTO t USING __src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = 'x'""".stripMargin)
    val got = cat.sql("ns", "SELECT id, v FROM t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "x"), (2L, "b")))
    spark.catalog.dropTempView("__src")
  }

  test("VERSION AS OF and TIMESTAMP AS OF read historical snapshots via SQL") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.createTable("ns", "t", df1.schema)
    val lt = cat.loadTable("ns", "t")
    val s1 = lt.append(df1)
    val ts1 = lt.snapshot(s1).timestampMs
    while (System.currentTimeMillis() <= ts1) Thread.sleep(1)
    lt.append(Seq((3L, "c")).toDF("id", "v"))
    assert(cat.sql("ns", s"SELECT count(*) AS n FROM t VERSION AS OF $s1")
      .head.getLong(0) == 2)
    assert(cat.sql("ns", "SELECT count(*) AS n FROM t").head.getLong(0) == 3)
    // timestamp formatted under the session timezone (UTC in tests)
    val tsLit = java.time.Instant.ofEpochMilli(ts1).toString
      .replace("T", " ").replace("Z", "")
    assert(cat.sql("ns",
      s"SELECT count(*) AS n FROM t TIMESTAMP AS OF '$tsLit'")
      .head.getLong(0) == 2)
    // time travel composes with ordinary SQL around it
    val joined = cat.sql("ns",
      s"""SELECT cur.id FROM t AS cur
         |LEFT ANTI JOIN (SELECT id FROM t VERSION AS OF $s1) AS old
         |ON cur.id = old.id""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(joined == Seq(3L))
  }

  test("INSERT INTO text: VALUES, SELECT, column list, and OVERWRITE") {
    import org.apache.spark.sql.types._
    val cat = freshCat
    cat.createNamespace("ns")
    // score nullable so an explicit-column INSERT may omit it
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType),
      StructField("score", DoubleType, nullable = true)))
    cat.createTable("ns", "t", schema)
    cat.sql("ns", "INSERT INTO t VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    assert(cat.sql("ns", "SELECT count(*) AS n FROM t").head.getLong(0) == 2)
    // explicit column list: omitted nullable column null-fills
    cat.sql("ns", "INSERT INTO t (id, v) VALUES (3, 'c')")
    assert(cat.sql("ns",
      "SELECT count(*) AS n FROM t WHERE score IS NULL").head.getLong(0) == 1)
    // INSERT ... SELECT
    cat.sql("ns",
      "INSERT INTO t SELECT id + 10, concat(v, '!'), score FROM t WHERE id = 1")
    assert(cat.sql("ns",
      "SELECT v FROM t WHERE id = 11").head.getString(0) == "a!")
    // BY NAME: shuffled column order maps by name, not position
    cat.sql("ns",
      "INSERT INTO t BY NAME SELECT 3.5 AS score, 'byname' AS v, 20L AS id")
    assert(cat.sql("ns", "SELECT v FROM t WHERE id = 20")
      .head.getString(0) == "byname")
    // INSERT OVERWRITE replaces all content
    cat.sql("ns", "INSERT OVERWRITE t VALUES (9, 'z', 0.0)")
    val left = cat.sql("ns", "SELECT id, v FROM t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(left == Seq((9L, "z")))
  }

  test("named refs: tags pin snapshots past expiry; VERSION AS OF name reads them") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.createTable("ns", "t", df1.schema)
    val lt = cat.loadTable("ns", "t")
    val s1 = lt.append(df1)
    lt.createTag("v1-release", s1)
    // tags are immutable; branches move
    lt.createBranch("audit", s1)
    intercept[IllegalArgumentException](lt.updateRef("v1-release", s1))
    (1 to 4).foreach(i => lt.append(Seq((10L + i, "x")).toDF("id", "v")))
    lt.updateRef("audit", lt.currentSnapshotId.get)
    // expiry would normally reclaim s1 (keepLast=1) — the tag pins it
    lt.expireSnapshots(keepLast = 1)
    assert(cat.sql("ns",
      "SELECT count(*) AS n FROM t VERSION AS OF 'v1-release'")
      .head.getLong(0) == 2)
    assert(lt.scanRef("v1-release").count() == 2)
    // dropping the tag releases it: the next expiry reclaims
    lt.dropRef("v1-release")
    lt.expireSnapshots(keepLast = 1)
    intercept[Exception](lt.scanAt(s1))
    // duplicate and all-digit names are rejected
    intercept[IllegalArgumentException](
      lt.createTag("audit", lt.currentSnapshotId.get))
    intercept[IllegalArgumentException](
      lt.createTag("123", lt.currentSnapshotId.get))
  }

  test("CDC MERGE: WHEN MATCHED AND Op='D' THEN DELETE, else upsert") {
    val cat = freshCat
    cat.createNamespace("ns")
    val tgt = Seq((1L, "keep"), (2L, "update-me"), (3L, "delete-me"))
      .toDF("id", "v")
    cat.createTable("ns", "t", tgt.schema)
    cat.loadTable("ns", "t").append(tgt)
    // CDC batch: U on 2, D on 3, D on missing 9 (no-op), I on 4
    Seq((2L, "updated", "U"), (3L, "x", "D"), (9L, "x", "D"),
      (4L, "inserted", "I"))
      .toDF("id", "v", "Op").createOrReplaceTempView("__cdc")
    cat.sql("ns",
      """MERGE INTO t AS target USING __cdc AS source
        |ON target.id = source.id
        |WHEN MATCHED AND source.Op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = cat.sql("ns", "SELECT id, v FROM t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // SQL MERGE semantics (Spark/Iceberg/Delta): the MATCHED-only
    // DELETE clause cannot suppress the NOT MATCHED INSERT, so the
    // unmatched D row (9) DOES insert; Op columns are dropped by
    // schema alignment. (Skip-insert CDC behavior is the
    // merge(deleteWhen=…) API's documented contract, or is spelled
    // `WHEN NOT MATCHED AND source.Op <> 'D' THEN INSERT *` in text.)
    assert(got == Seq((1L, "keep"), (2L, "updated"), (4L, "inserted"),
      (9L, "x")))
    // bare WHEN MATCHED THEN DELETE = keyed delete
    Seq(Tuple1(2L)).toDF("id").createOrReplaceTempView("__dels")
    cat.sql("ns",
      """MERGE INTO t USING __dels AS s ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(cat.sql("ns", "SELECT id FROM t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 4L, 9L))
    spark.catalog.dropTempView("__cdc")
    spark.catalog.dropTempView("__dels")
  }

  test("CDC MERGE on a merge-on-read table applies deletes via delete files") {
    val cat = freshCat
    cat.createNamespace("ns")
    val tgt = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    cat.createTable("ns", "t", tgt.schema,
      properties = Map(LakeTable.PROP_MERGE_MODE -> "merge-on-read"))
    val lt = cat.loadTable("ns", "t")
    lt.append(tgt)
    val nFilesBefore = lt.currentSnapshot.get.liveFiles.size
    lt.merge(Seq((2L, "B", "U"), (3L, "x", "D")).toDF("id", "v", "Op"),
      Seq("id"), deleteWhen = Some(col("Op") === "D"))
    val got = lt.scan().orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "B")))
    // MOR: no base data file was rewritten (delete file + after-image)
    val snap = lt.currentSnapshot.get
    assert(snap.liveFiles.size > nFilesBefore)
    assert(snap.removedFiles.isEmpty)
    assert(snap.deleteFiles.nonEmpty)
  }

  test("CREATE TABLE / CTAS / DROP TABLE text with transforms and properties") {
    val cat = freshCat
    cat.createNamespace("ns")
    cat.sql("ns",
      """CREATE TABLE t (id BIGINT NOT NULL, v STRING, ts TIMESTAMP,
        |                score DOUBLE)
        |PARTITIONED BY (bucket(4, id), day(ts))
        |TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')""".stripMargin)
    val lt = cat.loadTable("ns", "t")
    assert(lt.partitionColumns == Seq("bucket(4, id)", "day(ts)"))
    assert(lt.properties == Map("write.merge.mode" -> "merge-on-read"))
    assert(lt.schema.fieldNames.toSeq == Seq("id", "v", "ts", "score"))
    assert(!lt.schema("id").nullable)
    // IF NOT EXISTS no-ops; plain re-create errors
    cat.sql("ns", "CREATE TABLE IF NOT EXISTS t (x INT)")
    assert(cat.loadTable("ns", "t").schema.fieldNames.length == 4)
    intercept[IllegalArgumentException](
      cat.sql("ns", "CREATE TABLE t (x INT)"))
    // data flows through the created table via SQL alone
    cat.sql("ns",
      "INSERT INTO t VALUES (1, 'a', TIMESTAMP '2026-01-02 03:04:05', 1.0)")
    assert(cat.sql("ns", "SELECT count(*) AS n FROM t").head.getLong(0) == 1)
    // the bucket/day transforms actually landed in the layout
    val file = cat.loadTable("ns", "t").currentSnapshot.get.liveFiles.head
    assert(file.contains("id_bucket_4=") && file.contains("ts_day="), file)
    // CTAS
    cat.sql("ns", "CREATE TABLE t2 AS SELECT id, v FROM t")
    assert(cat.sql("ns", "SELECT v FROM t2").head.getString(0) == "a")
    // DROP
    cat.sql("ns", "DROP TABLE t2")
    assert(!cat.tableExists("ns", "t2"))
    intercept[IllegalArgumentException](cat.sql("ns", "DROP TABLE t2"))
    cat.sql("ns", "DROP TABLE IF EXISTS t2") // no-op
  }

  test(".refs and .manifests metadata views answer through SQL") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = Seq((1L, "a")).toDF("id", "v")
    cat.createTable("ns", "t", df.schema)
    val lt = cat.loadTable("ns", "t")
    val s1 = lt.append(df)
    lt.createTag("rc1", s1)
    val refs = cat.sql("ns", "SELECT name, type, snapshot_id FROM t_refs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.toSeq == Seq(("rc1", "tag", s1)))
    val manifests = cat.sql("ns",
      "SELECT path, entry_count FROM t_manifests").collect()
    assert(manifests.nonEmpty)
    assert(manifests.map(_.getLong(1)).sum ==
      lt.currentSnapshot.get.liveFiles.size)
    // chunk names: file-backed (m-) or inline-in-snapshot-doc (iv)
    assert(manifests.forall(r =>
      r.getString(0).startsWith("metadata/m-") ||
        r.getString(0).startsWith("metadata/iv")))
  }

  test("ALTER TABLE text: add/rename/drop columns and set/unset properties") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = Seq((1L, "a")).toDF("id", "v")
    cat.createTable("ns", "t", df.schema)
    cat.loadTable("ns", "t").append(df)
    cat.sql("ns", "ALTER TABLE t ADD COLUMN score DOUBLE")
    cat.sql("ns", "ALTER TABLE t RENAME COLUMN v TO label")
    assert(cat.sql("ns", "SELECT id, label, score FROM t")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)))).toSeq == Seq((1L, "a", None)))
    cat.sql("ns", "ALTER TABLE t DROP COLUMN score")
    assert(cat.loadTable("ns", "t").schema.fieldNames.toSeq ==
      Seq("id", "label"))
    cat.sql("ns", "ALTER TABLE t DROP COLUMN IF EXISTS ghost") // no-op
    // properties steer future ops: flip the table to merge-on-read
    cat.sql("ns",
      "ALTER TABLE t SET TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')")
    val lt = cat.loadTable("ns", "t")
    assert(lt.properties("write.merge.mode") == "merge-on-read")
    lt.merge(Seq((1L, "A")).toDF("id", "label"), Seq("id"))
    assert(lt.currentSnapshot.get.deleteFiles.nonEmpty) // MOR path taken
    cat.sql("ns", "ALTER TABLE t UNSET TBLPROPERTIES ('write.merge.mode')")
    assert(!cat.loadTable("ns", "t").properties.contains("write.merge.mode"))
    assert(cat.sql("ns", "SELECT label FROM t").head.getString(0) == "A")
  }

  test("ALTER COLUMN TYPE text: widening promotes in place, narrowing errors") {
    val cat = freshCat
    cat.createNamespace("ns")
    cat.sql("ns", "CREATE TABLE w (k INT, amt FLOAT)")
    cat.sql("ns", "INSERT INTO w VALUES (1, cast(1.5 as float))")
    cat.sql("ns", "ALTER TABLE w ALTER COLUMN k TYPE BIGINT")
    cat.sql("ns", "ALTER TABLE w ALTER COLUMN amt TYPE DOUBLE")
    cat.sql("ns", "INSERT INTO w VALUES (3000000000, 2.5)")
    assert(cat.sql("ns", "SELECT k, amt FROM w ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.5), (3000000000L, 2.5)))
    // narrow-era file found through a wide-typed pruned read
    assert(cat.sql("ns", "SELECT count(*) AS n FROM w WHERE k = 1")
      .head.getLong(0) == 1L)
    val err = intercept[IllegalArgumentException] {
      cat.sql("ns", "ALTER TABLE w ALTER COLUMN k TYPE INT")
    }
    assert(err.getMessage.contains("not a lossless widening"))
  }

  test("SHOW PARTITIONS / DESCRIBE / SHOW CREATE TABLE / SHOW TBLPROPERTIES") {
    val cat = freshCat
    cat.createNamespace("ns")
    cat.sql("ns",
      """CREATE TABLE meta_t (id BIGINT, grp STRING, v DOUBLE)
        |PARTITIONED BY (grp)
        |TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')""".stripMargin)
    cat.sql("ns",
      "INSERT INTO meta_t VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    // SHOW PARTITIONS: hive dir values off the manifest, no data read
    val parts = cat.sql("ns", "SHOW PARTITIONS meta_t")
      .collect().map(_.getString(0))
    assert(parts.toSeq == Seq("grp=a", "grp=b"))
    // DESCRIBE: columns then the partition-information section
    val desc = cat.sql("ns", "DESCRIBE meta_t").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(desc.take(3).toSeq == Seq(("id", "bigint"),
      ("grp", "string"), ("v", "double")))
    assert(desc.map(_._1).contains("# Partition Information"))
    assert(desc.last._1 == "grp")
    // SHOW CREATE TABLE: round-trips through this surface's own DDL
    val stmt = cat.sql("ns", "SHOW CREATE TABLE meta_t")
      .head().getString(0)
    assert(stmt.contains("CREATE TABLE ns.meta_t"))
    assert(stmt.contains("id BIGINT"))
    assert(stmt.contains("PARTITIONED BY (grp)"))
    assert(stmt.contains("'write.merge.mode' = 'merge-on-read'"))
    // SHOW TBLPROPERTIES, with and without a key filter
    val props = cat.sql("ns", "SHOW TBLPROPERTIES meta_t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props("write.merge.mode") == "merge-on-read")
    val one = cat.sql("ns",
      "SHOW TBLPROPERTIES meta_t ('write.merge.mode')").collect()
    assert(one.length == 1 && one.head.getString(1) == "merge-on-read")
    // SHOW PARTITIONS on an unpartitioned table refuses loudly
    cat.sql("ns", "CREATE TABLE flat_t (id BIGINT)")
    intercept[IllegalArgumentException] {
      cat.sql("ns", "SHOW PARTITIONS flat_t")
    }
  }

  test("CALL system procedures drive the maintenance surface") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = (1L to 60L).map(i => (i, i % 3, s"v$i")).toDF("id", "grp", "v")
    cat.createTable("ns", "mt", df.schema)
    val lt = cat.loadTable("ns", "mt")
    (0L to 2L).foreach(g => lt.append(df.where($"grp" === g)))
    // rewrite_data_files with a z-order column list
    val sid = cat.sql("ns",
      "CALL system.rewrite_data_files('mt', 2, 'id')")
      .head().getLong(0)
    assert(sid == lt.currentSnapshotId.get)
    assert(lt.scan().count() == 60)
    // tag the compacted snapshot, expire history, tag still readable
    cat.sql("ns", s"CALL system.create_tag('mt', 'gold', $sid)")
    assert(lt.refs.contains("gold"))
    cat.sql("ns", "CALL system.expire_snapshots('mt', 1)")
    assert(cat.sql("ns",
      "SELECT count(*) AS n FROM mt VERSION AS OF 'gold'")
      .head().getLong(0) == 60L)
    cat.sql("ns", "CALL system.drop_ref('mt', 'gold')")
    assert(!lt.refs.contains("gold"))
    // rollback via CALL
    lt.append(Seq((100L, 0L, "x")).toDF("id", "grp", "v"))
    cat.sql("ns", s"CALL system.rollback_to_snapshot('mt', $sid)")
    assert(lt.scan().count() == 60)
    // WAP via CALL
    lt.stageAppend(Seq((200L, 0L, "s")).toDF("id", "grp", "v"), "w1")
    cat.sql("ns", "CALL system.publish_staged('mt', 'w1')")
    assert(lt.scan().count() == 61)
    // orphan cleanup returns removed paths (none here at default age)
    assert(cat.sql("ns",
      "CALL system.remove_orphan_files('mt')").count() == 0)
    intercept[UnsupportedOperationException] {
      cat.sql("ns", "CALL system.no_such_proc('mt')")
    }
  }

  test("table_changes TVF reads the CDC changelog through SQL") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.createTable("ns", "ct", df.schema)
    val lt = cat.loadTable("ns", "ct")
    val s1 = lt.append(df)
    lt.delete(col("id") === 1L)
    val s2 = lt.currentSnapshotId.get
    val rows = cat.sql("ns",
      s"""SELECT id, v, _change_type
         |FROM table_changes('ct', $s1, $s2)
         |ORDER BY _change_type""".stripMargin).collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 1L &&
      rows.head.getString(2) == "delete")
    // aggregation over the TVF composes like any relation
    assert(cat.sql("ns",
      s"SELECT count(*) AS n FROM table_changes('ct', 0, $s2)")
      .head().getLong(0) == 3L) // 2 inserts + 1 delete
  }

  test("table_changes 'lineage' mode classifies updates through SQL") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    cat.createTable("ns", "lc", df.schema,
      properties = Map(LakeTable.PROP_ROW_LINEAGE -> "true"))
    val lt = cat.loadTable("ns", "lc")
    lt.append(df)
    lt.update(col("id") === 2L, Map("v" -> lit("U")))
    val head = lt.currentSnapshotId.get
    val counts = cat.sql("ns",
      s"""SELECT _change_type, count(*) AS n
         |FROM table_changes('lc', 1, $head, 'lineage')
         |GROUP BY 1""".stripMargin).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("insert" -> 3L,
      "update_preimage" -> 1L, "update_postimage" -> 1L), counts)
  }

  test("CALL system.maintain runs the table's declared policy") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = Seq((1L, "a")).toDF("id", "v")
    cat.createTable("ns", "mnt", df.schema, properties = Map(
      LakeTable.PROP_MAINT_BINPACK_BYTES -> (1024L * 1024).toString,
      LakeTable.PROP_MAINT_EXPIRE_KEEP -> "2",
      LakeTable.PROP_MAINT_ORPHAN_AGE_MS -> "0"))
    val lt = cat.loadTable("ns", "mnt")
    (1L to 4L).foreach(i =>
      lt.append(Seq((i, s"v$i")).toDF("id", "v")))
    val actions = cat.sql("ns", "CALL system.maintain('mnt')")
      .collect().map(_.getString(0)).toSeq
    assert(actions == Seq("rewrite_small_files", "expire_snapshots",
      "remove_orphan_files"), actions.toString)
    val after = cat.loadTable("ns", "mnt")
    assert(after.scan().count() == 4)           // content intact
    assert(after.snapshots.size <= 2)           // history trimmed
    // a table with NO declared policy is a clean no-op
    cat.createTable("ns", "mnt2", df.schema)
    assert(cat.sql("ns", "CALL system.maintain('mnt2')").count() == 0)
    // a declared Z-order policy rewrites with the clustering columns
    val dfz = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x")
    cat.createTable("ns", "mntz", dfz.schema, properties = Map(
      LakeTable.PROP_MAINT_ZORDER_COLUMNS -> "id,x"))
    cat.loadTable("ns", "mntz").append(dfz)
    val za = cat.sql("ns", "CALL system.maintain('mntz')")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(za.map(_._1).toSeq == Seq("rewrite_data_files"), za.toSeq)
    assert(za.head._2.contains("zorder=id,x"))
    assert(cat.loadTable("ns", "mntz").scan().count() == 2)
  }

  test("qualified UPDATE predicate columns resolve after qualifier strip") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price")
    cat.createTable("ns", "t", df.schema)
    cat.loadTable("ns", "t").append(df)
    cat.sql("ns", "UPDATE t SET price = t.price * 2 WHERE t.id = 2")
    val got = cat.sql("ns", "SELECT id, price FROM t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 40.0)))
  }

  test("README SQL quickstart executes verbatim, in order") {
    // the statements below are the README's "SQL quickstart" section,
    // character for character — editing one side means editing both
    val cat = freshCat
    cat.createNamespace("demo")
    def sql(q: String) = cat.sql("demo", q)

    sql("""CREATE TABLE bronze_orders (invoiceid BIGINT,
      category STRING, processed_time BIGINT)
      TBLPROPERTIES ('format-version'='2')""")
    sql("""INSERT INTO bronze_orders VALUES
      (24137, 'degree', 100), (40994, 'market', 100),
      (24137, 'degree####', 200)""")

    sql("""CREATE TABLE silver_orders (invoiceid BIGINT,
      category STRING, processed_time BIGINT)""")
    sql("""MERGE INTO silver_orders AS target
      USING (
        SELECT * FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY invoiceid
            ORDER BY processed_time DESC) AS row_num
          FROM bronze_orders) AS deduped
        WHERE row_num = 1
      ) AS source
      ON target.invoiceid = source.invoiceid
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val silver = sql(
      "SELECT invoiceid, category FROM silver_orders ORDER BY invoiceid")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(silver == Seq((24137L, "degree####"), (40994L, "market")))

    sql("CALL system.create_tag('silver_orders', 'v1', 2)")
    assert(sql(
      "SELECT count(*) AS n FROM silver_orders VERSION AS OF 'v1'")
      .head().getLong(0) == 2L)

    val hist = sql(
      "SELECT snapshot_id, operation FROM silver_orders_history")
      .collect().map(_.getString(1)).toSeq
    // a MERGE into an EMPTY table takes the insert-only fast path and
    // commits as an append (no files to rewrite)
    assert(hist == Seq("create", "append"))
    val verdict = sql("CALL system.verify_table('silver_orders')")
    assert(verdict.where($"ok" === false).count() == 0,
      verdict.collect().mkString("\n"))

    sql("""CREATE MATERIALIZED VIEW gold_by_category AS
      SELECT category, count(*) AS cnt, sum(processed_time) AS total
      FROM silver_orders GROUP BY category""")
    sql("CALL system.refresh_mv('gold_by_category')")
    val stale = sql("CALL system.mv_staleness('gold_by_category')")
    assert(!stale.head().getAs[Boolean]("is_stale"))
    assert(sql("SELECT sum(cnt) AS n FROM gold_by_category")
      .head().getLong(0) == 2L)
  }

  test("CALL system.refresh_mv + mv_staleness drive a defined MV") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 5.0))
      .toDF("id", "k", "x")
    cat.createTable("ns", "src", df.schema)
    val src = cat.loadTable("ns", "src")
    cat.createTable("ns", "mv",
      IncrementalMv.targetSchema(src, Seq("k")))
    IncrementalMv.define(cat.loadTable("ns", "mv"), "src",
      Seq("k"), "x")
    // staleness is snapshot arithmetic: even the source's CREATE
    // commit counts as unapplied until a first (empty) refresh
    // baselines the watermark
    assert(cat.sql("ns", "CALL system.mv_staleness('mv')")
      .select("is_stale").head().getBoolean(0))
    cat.sql("ns", "CALL system.refresh_mv('mv')").collect()
    assert(!cat.sql("ns", "CALL system.mv_staleness('mv')")
      .select("is_stale").head().getBoolean(0))
    src.append(df)
    val stale = cat.sql("ns", "CALL system.mv_staleness('mv')")
      .select("source_table", "pending_commits", "is_stale").head()
    assert(stale.getString(0) == "src" && stale.getLong(1) >= 1L &&
      stale.getBoolean(2))
    cat.sql("ns", "CALL system.refresh_mv('mv')").collect()
    val got = cat.sql("ns",
      "SELECT k, cnt, total FROM mv ORDER BY k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(("a", 2L, 15.0), ("b", 1L, 20.0)))
    // source mutates → stale again; refresh applies just the delta
    src.delete(col("k") === "b")
    assert(cat.sql("ns", "CALL system.mv_staleness('mv')")
      .select("is_stale").head().getBoolean(0))
    cat.sql("ns", "CALL system.refresh_mv('mv')").collect()
    assert(cat.sql("ns", "SELECT k FROM mv").collect()
      .map(_.getString(0)).toSeq == Seq("a"))
    assert(!cat.sql("ns", "CALL system.mv_staleness('mv')")
      .select("is_stale").head().getBoolean(0))
    // an undefined table is refused, not half-refreshed
    intercept[IllegalArgumentException](
      cat.sql("ns", "CALL system.refresh_mv('src')"))
  }

  test("CREATE/DROP MATERIALIZED VIEW DDL defines, populates, refreshes") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = Seq((1L, "a", 10.0), (2L, "a", 5.0), (3L, "b", 1.0))
      .toDF("id", "grp", "v")
    cat.createTable("ns", "msrc", df.schema)
    cat.loadTable("ns", "msrc").append(df)
    cat.sql("ns", "CREATE MATERIALIZED VIEW magg AS SELECT grp, " +
      "count(*) AS cnt, sum(v) AS total FROM msrc GROUP BY grp")
    val rows = cat.sql("ns",
      "SELECT grp, cnt, total FROM magg ORDER BY grp").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq == Seq(("a", 2L, 15.0), ("b", 1L, 1.0)))
    // incremental: new source rows, CALL refresh, the MV follows
    cat.loadTable("ns", "msrc")
      .append(Seq((4L, "b", 9.0)).toDF("id", "grp", "v"))
    cat.sql("ns", "CALL system.refresh_mv('magg')")
    assert(cat.sql("ns", "SELECT total FROM magg WHERE grp = 'b'")
      .head().getDouble(0) == 10.0)
    // extremes variant (min/max recompute-on-retraction machinery)
    cat.sql("ns", "CREATE MATERIALIZED VIEW mex AS SELECT grp, " +
      "count(*) AS cnt, sum(v) AS total, min(v) AS mn, max(v) AS mx " +
      "FROM msrc GROUP BY grp")
    assert(cat.sql("ns", "SELECT mx FROM mex WHERE grp = 'b'")
      .head().getDouble(0) == 9.0)
    cat.sql("ns", "DROP MATERIALIZED VIEW mex")
    assert(!cat.tableExists("ns", "mex"))
    // a plain table refuses the MV drop path; unsupported MV shapes
    // are rejected loudly with the expected form
    intercept[IllegalArgumentException](
      cat.sql("ns", "DROP MATERIALIZED VIEW msrc"))
    intercept[IllegalArgumentException](cat.sql("ns",
      "CREATE MATERIALIZED VIEW bad AS SELECT grp, avg(v) AS a " +
        "FROM msrc GROUP BY grp"))
    intercept[IllegalArgumentException](cat.sql("ns",
      "CREATE MATERIALIZED VIEW bad AS SELECT grp, count(*) AS cnt, " +
        "sum(v) AS total FROM msrc WHERE v > 0 GROUP BY grp"))
    // modifiers the maintenance machinery would silently ignore, a
    // global aggregate, and a non-numeric value column all fail
    // BEFORE any table is created
    intercept[IllegalArgumentException](cat.sql("ns",
      "CREATE MATERIALIZED VIEW bad AS SELECT grp, " +
        "count(DISTINCT v) AS cnt, sum(v) AS total " +
        "FROM msrc GROUP BY grp"))
    intercept[IllegalArgumentException](cat.sql("ns",
      "CREATE MATERIALIZED VIEW bad AS SELECT grp, count(id) AS cnt, " +
        "sum(v) AS total FROM msrc GROUP BY grp"))
    intercept[IllegalArgumentException](cat.sql("ns",
      "CREATE MATERIALIZED VIEW bad AS SELECT count(*) AS cnt, " +
        "sum(v) AS total FROM msrc"))
    intercept[Exception](cat.sql("ns",
      "CREATE MATERIALIZED VIEW bad AS SELECT grp, count(*) AS cnt, " +
        "sum(grp) AS total FROM msrc GROUP BY grp"))
    // a sum alias equal to a GROUP BY key would emit a duplicate
    // column in the target schema — refused before creation
    val aliasClash = intercept[IllegalArgumentException](cat.sql("ns",
      "CREATE MATERIALIZED VIEW bad AS SELECT grp, count(*) AS cnt, " +
        "sum(v) AS grp FROM msrc GROUP BY grp"))
    assert(aliasClash.getMessage.contains("collides"))
    assert(!cat.tableExists("ns", "bad"))
    // the physical state always carries the maintained `cnt` column:
    // a NON-anchor aggregate aliased `cnt` (anchor aliased elsewhere)
    // would duplicate it — refused before creation
    val cntClash = intercept[IllegalArgumentException](cat.sql("ns",
      "CREATE MATERIALIZED VIEW bad AS SELECT grp, count(*) AS n, " +
        "sum(v) AS cnt FROM msrc GROUP BY grp"))
    assert(cntClash.getMessage.contains("reserves"))
    assert(!cat.tableExists("ns", "bad"))
    // DROP tears the temp views down — a re-query fails with
    // not-found, never a read of the deleted table's files
    intercept[Exception](
      cat.sql("ns", "SELECT * FROM mex").collect())
  }

  test("MATERIALIZED VIEW DDL lowers AVG and COUNT(DISTINCT col) onto " +
      "the maintained cube") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = Seq(
      (1L, "a", "x", 10.0), (2L, "a", "y", 6.0), (3L, "a", "y", 2.0),
      (4L, "b", "x", 1.0)).toDF("id", "grp", "cat", "v")
    cat.createTable("ns", "dsrc", df.schema)
    cat.loadTable("ns", "dsrc").append(df)
    cat.sql("ns",
      """CREATE MATERIALIZED VIEW dmart AS
        |SELECT grp, count(*) AS n_rows, sum(v) AS total,
        |  avg(v) AS avg_v, count(v) AS n_v,
        |  count(DISTINCT cat) AS n_cats
        |FROM dsrc GROUP BY grp""".stripMargin)
    def mart() = cat.sql("ns",
      "SELECT grp, n_rows, total, round(avg_v, 4) AS avg_v, n_v, " +
        "n_cats FROM dmart ORDER BY grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getLong(5))).toSeq
    assert(mart() == Seq(("a", 3L, 18.0, 6.0, 3L, 2L),
      ("b", 1L, 1.0, 1.0, 1L, 1L)))
    // the physical state is the (grp, cat) cube; the MV name derives
    assert(cat.sql("ns", "SELECT count(*) AS n FROM dmart_state")
      .head().getLong(0) == 3L)
    // incremental: a NULL v (avg/count(v) must skip it), a new
    // category, and a delete retracting category y's last rows
    val src = cat.loadTable("ns", "dsrc")
    src.append(Seq((5L, "b", "z", null.asInstanceOf[java.lang.Double]))
      .toDF("id", "grp", "cat", "v"))
    src.delete(col("cat") === "y")
    cat.sql("ns", "CALL system.refresh_mv('dmart')")
    assert(mart() == Seq(("a", 1L, 10.0, 10.0, 1L, 1L),
      ("b", 2L, 1.0, 1.0, 1L, 2L)))
    // staleness surface still works on the lowered MV
    assert(!cat.sql("ns", "CALL system.mv_staleness('dmart')")
      .head().getAs[Boolean]("is_stale"))
    cat.sql("ns", "DROP MATERIALIZED VIEW dmart")
    intercept[Exception](cat.sql("ns", "SELECT * FROM dmart").collect())
    // rejected extended shapes, all before any table is created
    intercept[IllegalArgumentException](cat.sql("ns",
      "CREATE MATERIALIZED VIEW bad AS SELECT grp, count(*) AS n, " +
        "count(DISTINCT cat) AS a, count(DISTINCT v) AS b " +
        "FROM dsrc GROUP BY grp"))
    intercept[IllegalArgumentException](cat.sql("ns",
      "CREATE MATERIALIZED VIEW bad AS SELECT grp, count(*) AS n, " +
        "count(DISTINCT grp) AS a FROM dsrc GROUP BY grp"))
    intercept[IllegalArgumentException](cat.sql("ns",
      "CREATE MATERIALIZED VIEW bad AS SELECT grp, count(*) AS n, " +
        "sum(v) AS __mv_x FROM dsrc GROUP BY grp"))
    assert(!cat.tableExists("ns", "bad"))
  }

  test("metadata views refresh after HEAD-preserving mutations") {
    // create_tag / drop_ref / expire_snapshots mutate refs or snapshot
    // metadata WITHOUT moving HEAD — the registration ledger must not
    // serve pre-mutation t_refs / t_snapshots from cache
    val cat = freshCat
    cat.createNamespace("ns")
    val df = Seq((1L, "a")).toDF("id", "v")
    cat.createTable("ns", "hp", df.schema)
    val lt = cat.loadTable("ns", "hp")
    lt.append(df)
    lt.append(Seq((2L, "b")).toDF("id", "v"))
    // prime the view cache with a SELECT, then tag via CALL
    assert(cat.sql("ns", "SELECT count(*) AS n FROM hp_refs")
      .head().getLong(0) == 0L)
    val head = lt.currentSnapshotId.get
    cat.sql("ns", s"CALL system.create_tag('hp', 'gold', $head)")
    assert(cat.sql("ns",
      "SELECT name FROM hp_refs").collect().map(_.getString(0))
      .contains("gold"))
    val snapsBefore = cat.sql("ns",
      "SELECT count(*) AS n FROM hp_snapshots").head().getLong(0)
    cat.sql("ns", "CALL system.drop_ref('hp', 'gold')")
    assert(cat.sql("ns", "SELECT count(*) AS n FROM hp_refs")
      .head().getLong(0) == 0L)
    cat.sql("ns", "CALL system.expire_snapshots('hp', 1)")
    assert(cat.sql("ns", "SELECT count(*) AS n FROM hp_snapshots")
      .head().getLong(0) < snapsBefore)
    // the same mutations through the SCALA API (no CALL hook) are
    // caught by the metadataStamp component of the ledger key
    lt.createTag("silver", lt.currentSnapshotId.get)
    assert(cat.sql("ns",
      "SELECT name FROM hp_refs").collect().map(_.getString(0))
      .contains("silver"))
    // direct-API expire immediately after a view query: dir-mtime has
    // 1 s granularity on many filesystems, so only the snapshot-doc census
    // in the stamp makes this visible without any clock settling
    lt.append(Seq((3L, "c")).toDF("id", "v"))
    lt.append(Seq((4L, "d")).toDF("id", "v"))
    val n0 = cat.sql("ns", "SELECT count(*) AS n FROM hp_snapshots")
      .head().getLong(0)
    lt.dropRef("silver") // refs protect snapshots from expiry
    lt.expireSnapshots(1)
    assert(cat.sql("ns", "SELECT count(*) AS n FROM hp_snapshots")
      .head().getLong(0) < n0)
  }

  test("N-sum MATERIALIZED VIEW maintains several sum expressions") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = Seq((1L, "a", 10.0, 2.0), (2L, "a", 5.0, 3.0),
      (3L, "b", 1.0, 4.0)).toDF("id", "grp", "p", "q")
    cat.createTable("ns", "nsrc", df.schema)
    val src = cat.loadTable("ns", "nsrc")
    src.append(df)
    // several maintained sums, one an EXPRESSION over the source row —
    // the cube shape the incremental gold layer rides
    cat.sql("ns", "CREATE MATERIALIZED VIEW ncube AS SELECT grp, " +
      "count(*) AS cnt, sum(p * q) AS revenue, sum(p) AS p_sum " +
      "FROM nsrc GROUP BY grp")
    def row(g: String) = cat.sql("ns",
      s"SELECT cnt, revenue, p_sum FROM ncube WHERE grp = '$g'").head()
    assert((row("a").getLong(0), row("a").getDouble(1),
      row("a").getDouble(2)) == ((2L, 35.0, 15.0)))
    // staleness + refresh drive through the same CALL surface
    src.append(Seq((4L, "b", 2.0, 5.0)).toDF("id", "grp", "p", "q"))
    assert(cat.sql("ns", "CALL system.mv_staleness('ncube')")
      .select("is_stale").head().getBoolean(0))
    cat.sql("ns", "CALL system.refresh_mv('ncube')")
    assert((row("b").getLong(0), row("b").getDouble(1),
      row("b").getDouble(2)) == ((2L, 14.0, 3.0)))
    // retraction: delete drains group a to one row
    src.delete(org.apache.spark.sql.functions.col("id") === 1L)
    cat.sql("ns", "CALL system.refresh_mv('ncube')")
    assert((row("a").getLong(0), row("a").getDouble(1),
      row("a").getDouble(2)) == ((1L, 15.0, 5.0)))
    // a non-resolving or non-numeric sum expression fails BEFORE
    // creating anything
    intercept[IllegalArgumentException](cat.sql("ns",
      "CREATE MATERIALIZED VIEW bad AS SELECT grp, count(*) AS cnt, " +
        "sum(nope * 2) AS x FROM nsrc GROUP BY grp"))
    assert(!cat.tableExists("ns", "bad"))
  }

  test("CREATE MATERIALIZED VIEW tears down on a failed first refresh") {
    // the initial refresh reads the SOURCE's full changelog — a
    // schema-changing commit in that history makes changes() refuse,
    // which must not strand a defined-but-broken MV behind
    val cat = freshCat
    cat.createNamespace("ns")
    val df = Seq((1L, "a", 1.0)).toDF("id", "grp", "v")
    cat.createTable("ns", "esrc", df.schema)
    val src = cat.loadTable("ns", "esrc")
    src.append(df)
    src.addColumn("extra", org.apache.spark.sql.types.LongType)
    intercept[UnsupportedOperationException](cat.sql("ns",
      "CREATE MATERIALIZED VIEW emv AS SELECT grp, count(*) AS cnt, " +
        "sum(v) AS total FROM esrc GROUP BY grp"))
    assert(!cat.tableExists("ns", "emv"))
    // the name is immediately reusable (no half-created residue)
    intercept[UnsupportedOperationException](cat.sql("ns",
      "CREATE MATERIALIZED VIEW emv AS SELECT grp, count(*) AS cnt, " +
        "sum(v) AS total FROM esrc GROUP BY grp"))
    assert(!cat.tableExists("ns", "emv"))
  }

  test("CALL system.import_iceberg materializes an exported MOR table " +
      "as a governed copy, queryable in the same statement stream") {
    val cat = freshCat
    cat.createNamespace("ns")
    val df = (1L to 300L).map(i => (i, s"v$i", i % 4)).toDF("k", "v", "g")
    cat.createTable("ns", "src", df.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    val src = cat.loadTable("ns", "src")
    src.append(df)
    src.delete($"k" % 6 === 0)
    val dest = TestSpark.tmpDir("lakesql-ice")
    val metaPath = cat.sql("ns",
      s"CALL system.export_iceberg('src', '$dest')")
      .collect().head.getString(0)
    val res = cat.sql("ns",
      s"CALL system.import_iceberg('$metaPath', 'src_copy')")
      .collect().head
    assert(res.getString(0) == "src_copy")
    assert(res.getLong(2) == 250L)
    // the copy answers SQL like any catalog table, row-equal to source
    val back = cat.sql("ns",
      "SELECT g, count(*) AS n FROM src_copy GROUP BY g ORDER BY g")
    val direct = cat.sql("ns",
      "SELECT g, count(*) AS n FROM src GROUP BY g ORDER BY g")
    assert(back.collect().toSeq == direct.collect().toSeq)
    // name collision is refused before any work
    intercept[IllegalArgumentException](cat.sql("ns",
      s"CALL system.import_iceberg('$metaPath', 'src_copy')"))
  }
}
