package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Delta Lake interop: export writes a spec-shaped `_delta_log` the
  * INDEPENDENT reader (DeltaImport — engine-free log replay) scans
  * back row-identical; publish appends O(delta) versions; checkpoint
  * folds the log; every unreadable/unwritable case refuses loudly. */
class DeltaInteropSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val mapper = Snapshot.mapper

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("export → log shape: protocol/metaData/add fields, stats, " +
      "absolute zero-copy URIs; import scans back row-identical") {
    val base = TestSpark.tmpDir("delta-exp")
    val src = Seq((1, "a", 1.5), (2, "b", 2.5), (3, null, 3.5))
      .toDF("id", "name", "v")
    val lt = LakeTable.create(spark, s"$base/t", src.schema)
    lt.append(src)
    val commit = DeltaExport.export(lt, s"$base/delta")
    assert(commit.endsWith("00000000000000000000.json"))
    // independent shape check: parse the JSON lines directly
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    val txt = LakeTable.readString(fs, new Path(
      s"$base/delta/_delta_log/00000000000000000000.json"))
    val lines = txt.split('\n').filter(_.nonEmpty).map(mapper.readTree)
    assert(lines.exists(n => n.path("protocol")
      .path("minReaderVersion").asInt(-1) == 1))
    val md = lines.find(_.has("metaData")).get.path("metaData")
    assert(md.path("format").path("provider").asText() == "parquet")
    assert(md.path("schemaString").asText().nonEmpty)
    val adds = lines.filter(_.has("add")).map(_.path("add"))
    assert(adds.nonEmpty)
    adds.foreach { a =>
      assert(a.path("path").asText().startsWith("file:"),
        "zero-copy absolute URI expected")
      assert(a.path("size").asLong() > 0L)
      val st = mapper.readTree(a.path("stats").asText())
      assert(st.path("numRecords").asLong() > 0L)
      assert(st.path("minValues").path("id").isIntegralNumber)
    }
    assert(adds.map(a => mapper.readTree(a.path("stats").asText())
      .path("maxValues").path("v").asDouble()).max == 3.5)
    assert(adds.map(a => mapper.readTree(a.path("stats").asText())
      .path("numRecords").asLong()).sum == 3L)
    // the export dir holds ONLY the log — data stayed in place
    assert(!fs.exists(new Path(s"$base/delta/data")))
    assert(rows(DeltaImport.scan(spark, s"$base/delta")) == rows(lt.scan()))
  }

  test("identity-partitioned export: partitionValues carry the hive " +
      "dir values; import reconstructs typed columns (incl. null)") {
    val base = TestSpark.tmpDir("delta-part")
    val src = Seq((1, "us", 1.0), (2, "eu", 2.0), (3, null, 3.0))
      .toDF("id", "region", "v")
    val lt = LakeTable.create(spark, s"$base/t", src.schema,
      partitionBy = Seq("region"))
    lt.append(src)
    DeltaExport.export(lt, s"$base/delta")
    val st = DeltaImport.state(spark, s"$base/delta", None)
    assert(st.partitionColumns == Seq("region"))
    assert(st.adds.flatMap(_.partitionValues.get("region")).toSet ==
      Set(Some("us"), Some("eu"), None))
    assert(rows(DeltaImport.scan(spark, s"$base/delta")) == rows(lt.scan()))
  }

  test("transform-partitioned table exports UNPARTITIONED (documented " +
      "downgrade — source columns live in the data, rows exact)") {
    val base = TestSpark.tmpDir("delta-trans")
    val src = Seq((1L, "2021-01-03"), (2L, "2021-02-05"))
      .toDF("id", "d").withColumn("d", to_date(col("d")))
    val lt = LakeTable.create(spark, s"$base/t", src.schema,
      partitionBy = Seq("month(d)"))
    lt.append(src)
    DeltaExport.export(lt, s"$base/delta")
    val st = DeltaImport.state(spark, s"$base/delta", None)
    assert(st.partitionColumns.isEmpty)
    assert(rows(DeltaImport.scan(spark, s"$base/delta")) == rows(lt.scan()))
  }

  test("publish: append-only commit adds only the delta; a rewrite " +
      "also removes; versionAsOf time-travels; republish is a no-op") {
    val base = TestSpark.tmpDir("delta-pub")
    val lt = LakeTable.create(spark, s"$base/t",
      Seq((1, 1.0)).toDF("id", "v").schema)
    lt.append(Seq((1, 1.0), (2, 2.0)).toDF("id", "v"))
    DeltaExport.export(lt, s"$base/delta")
    val v0 = rows(DeltaImport.scan(spark, s"$base/delta"))

    lt.append(Seq((3, 3.0)).toDF("id", "v"))
    val c1 = DeltaExport.publish(lt, s"$base/delta")
    assert(c1.endsWith("00000000000000000001.json"))
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    val v1txt = LakeTable.readString(fs, new Path(
      s"$base/delta/_delta_log/00000000000000000001.json"))
    val v1lines = v1txt.split('\n').filter(_.nonEmpty).map(mapper.readTree)
    assert(v1lines.count(_.has("add")) >= 1)
    assert(v1lines.count(_.has("remove")) == 0, "append-only delta")
    assert(!v1lines.exists(_.has("metaData")), "metaData frozen at v0")

    // COW delete rewrites/drops files → publish carries removes
    lt.delete(col("id") === 1)
    DeltaExport.publish(lt, s"$base/delta")
    val v2txt = LakeTable.readString(fs, new Path(
      s"$base/delta/_delta_log/00000000000000000002.json"))
    assert(v2txt.split('\n').count(_.contains("\"remove\"")) >= 1)

    assert(rows(DeltaImport.scan(spark, s"$base/delta")) == rows(lt.scan()))
    assert(DeltaImport.scan(spark, s"$base/delta",
      versionAsOf = Some(0L)).collect().map(_.toSeq).toSet == v0)
    // idempotent republish: same graft snapshot → same commit path
    val again = DeltaExport.publish(lt, s"$base/delta")
    assert(again.endsWith("00000000000000000002.json"))

    // schema drift refused
    lt.addColumn("w", org.apache.spark.sql.types.DoubleType)
    val e = intercept[IllegalArgumentException] {
      DeltaExport.publish(lt, s"$base/delta")
    }
    assert(e.getMessage.contains("drift"))
  }

  test("checkpoint: state folds into parquet + _last_checkpoint; " +
      "replay seeds from it even with early JSON commits deleted") {
    val base = TestSpark.tmpDir("delta-ckpt")
    val lt = LakeTable.create(spark, s"$base/t",
      Seq((1, 1.0)).toDF("id", "v").schema)
    lt.append(Seq((1, 1.0)).toDF("id", "v"))
    DeltaExport.export(lt, s"$base/delta")
    lt.append(Seq((2, 2.0)).toDF("id", "v"))
    DeltaExport.publish(lt, s"$base/delta")
    lt.delete(col("id") === 1)
    DeltaExport.publish(lt, s"$base/delta")
    val cv = DeltaExport.checkpoint(spark, s"$base/delta")
    assert(cv == 2L)
    // a post-checkpoint commit still applies on top of the seed
    lt.append(Seq((4, 4.0)).toDF("id", "v"))
    DeltaExport.publish(lt, s"$base/delta")
    // age out the pre-checkpoint JSON commits (Delta log cleanup)
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    Seq(0L, 1L).foreach(v => fs.delete(new Path(
      f"$base/delta/_delta_log/$v%020d.json"), false))
    assert(rows(DeltaImport.scan(spark, s"$base/delta")) == rows(lt.scan()))
  }

  test("refusals: MOR artifacts and name-mapped files on export; " +
      "reader v2+, column mapping, and DVs on import") {
    val base = TestSpark.tmpDir("delta-refuse")
    val lt = LakeTable.create(spark, s"$base/t",
      Seq((1, "a")).toDF("id", "name").schema,
      properties = Map("write.delete.mode" -> "merge-on-read"))
    lt.append(Seq((1, "a"), (2, "b")).toDF("id", "name"))
    lt.deleteByKeys(Seq(1).toDF("id"), Seq("id"))
    val e1 = intercept[IllegalArgumentException] {
      DeltaExport.export(lt, s"$base/delta")
    }
    assert(e1.getMessage.contains("compact"))

    // renamed-column name mapping
    val lt2 = LakeTable.create(spark, s"$base/t2",
      Seq((1, "a")).toDF("id", "name").schema)
    lt2.append(Seq((1, "a")).toDF("id", "name"))
    lt2.renameColumn("name", "label")
    val e2 = intercept[IllegalArgumentException] {
      DeltaExport.export(lt2, s"$base/delta2")
    }
    assert(e2.getMessage.contains("name mapping"))

    // import gates: hand-written hostile logs
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    def writeLog(dir: String, lines: Seq[String]): Unit = {
      fs.mkdirs(new Path(dir, "_delta_log"))
      LakeTable.writeStringExclusive(fs,
        new Path(dir, "_delta_log/00000000000000000000.json"),
        lines.mkString("", "\n", "\n"))
    }
    val meta = """{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{},"createdTime":1}}"""
    writeLog(s"$base/h1", Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}""",
      meta))
    val e3 = intercept[IllegalArgumentException] {
      DeltaImport.state(spark, s"$base/h1", None)
    }
    assert(e3.getMessage.contains("minReaderVersion"))

    // a column-mapping MODE this reader does not know cannot be
    // resolved (mode name/id are now READ — see the mapping tests)
    writeLog(s"$base/h2", Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      meta.replace("\"configuration\":{}",
        "\"configuration\":{\"delta.columnMapping.mode\":\"weird\"}")))
    val e4 = intercept[IllegalArgumentException] {
      DeltaImport.state(spark, s"$base/h2", None)
    }
    assert(e4.getMessage.contains("columnMapping"))

    writeLog(s"$base/h3", Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      meta,
      """{"add":{"path":"f.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"x","offset":1,"sizeInBytes":1,"cardinality":1}}}"""))
    val e5 = intercept[IllegalArgumentException] {
      DeltaImport.state(spark, s"$base/h3", None)
    }
    assert(e5.getMessage.contains("deletionVector"))
  }

  test("scanWhere skips files via the adds' stats and partitionValues; " +
      "string bounds and loose stats never prune") {
    val base = TestSpark.tmpDir("delta-skip")
    val src = (1L to 1000L).map(i => (i, (i % 4).toString, s"name$i"))
      .toDF("id", "part", "nm")
    val lt = LakeTable.create(spark, s"$base/t", src.schema,
      partitionBy = Seq("part"))
    // range-cluster so per-file id bounds are selective
    lt.append(src.repartitionByRange(8, col("id")))
    DeltaExport.export(lt, s"$base/delta")
    val st = DeltaImport.state(spark, s"$base/delta", None)

    // selective range predicate: most files must prune away
    val pruned = DeltaImport.pruneAdds(spark, st, col("id") <= 50)
    assert(pruned.size < st.adds.size,
      s"expected pruning, kept ${pruned.size}/${st.adds.size}")
    assert(rows(DeltaImport.scanWhere(spark, s"$base/delta",
        col("id") <= 50)) ==
      rows(lt.scan().where(col("id") <= 50)))

    // partition-value point pruning (string partition values are
    // exact — only DATA string bounds are distrusted)
    val pp = DeltaImport.pruneAdds(spark, st, col("part") === "2")
    assert(pp.size < st.adds.size)
    assert(pp.forall(_.partitionValues("part").contains("2")))
    assert(rows(DeltaImport.scanWhere(spark, s"$base/delta",
        col("part") === "2")) ==
      rows(lt.scan().where(col("part") === "2")))

    // data STRING bounds never prune (foreign writers may truncate)
    val sp = DeltaImport.pruneAdds(spark, st, col("nm") === "name1")
    assert(sp.size == st.adds.size)

    // loose stats (tightBounds: false) are ignored wholesale
    val loose = st.adds.head.copy(stats = st.adds.head.stats.map(s =>
      s.replaceFirst("\\{", """{"tightBounds":false,""")))
    val st2 = st.copy(adds = loose +: st.adds.tail)
    val lp = DeltaImport.pruneAdds(spark, st2,
      col("id") > 2000L) // matches nothing
    assert(lp.exists(_.uri == loose.uri),
      "a loose-stats file must survive every prune")
  }

  test("UNIFORM-style dual handoff: Iceberg and Delta metadata side " +
      "by side over the SAME zero-copy data files read identically") {
    val base = TestSpark.tmpDir("uniform")
    val cat = new LakeCatalog(spark, s"$base/cat")
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "src",
      Seq((1, "us", 2.0)).toDF("id", "region", "v").schema,
      partitionBy = Seq("region"))
    t.append(Seq((1, "us", 2.0), (2, "eu", 3.0)).toDF("id", "region", "v"))
    val out = LakeSql.run(cat, "ns",
      s"CALL system.publish_uniform('src', '$base/uni')").head
    t.append(Seq((3, "us", 4.0)).toDF("id", "region", "v"))
    LakeSql.run(cat, "ns",
      s"CALL system.publish_uniform('src', '$base/uni')")
    assert(out.getString(0).contains("metadata") &&
      out.getString(1).contains("_delta_log"))
    val viaIce = rows(IcebergImport.scan(spark,
      s"$base/uni/metadata/v2.metadata.json"))
    val viaDelta = rows(DeltaImport.scan(spark, s"$base/uni"))
    assert(viaIce == viaDelta && viaDelta == rows(t.scan()))
    // zero-copy: the uniform dir holds metadata only
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/uni/data")))
  }

  test("UNIFORM over a DV-bearing table: Iceberg position deletes and " +
      "Delta deletion vectors express the SAME deletes over the same " +
      "zero-copy files — both engine-free readers row-identical") {
    val base = TestSpark.tmpDir("uniform-dv")
    val cat = new LakeCatalog(spark, s"$base/cat")
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "src",
      (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v").schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    t.append((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(3))
    t.delete(col("id") % 7 === 0)
    t.consolidateDeleteVectors()
    LakeSql.run(cat, "ns",
      s"CALL system.publish_uniform('src', '$base/uni')")
    val viaIce = rows(IcebergImport.scan(spark,
      s"$base/uni/metadata/v1.metadata.json"))
    val viaDelta = rows(DeltaImport.scan(spark, s"$base/uni"))
    assert(viaIce == viaDelta && viaDelta == rows(t.scan()),
      s"ice=${viaIce.size} delta=${viaDelta.size} src=${t.scan().count()}")
    assert(viaDelta.size == 100 - 14)
    // grow the deletes → re-publish keeps both sides aligned
    t.delete(col("id") % 5 === 0)
    t.consolidateDeleteVectors()
    LakeSql.run(cat, "ns",
      s"CALL system.publish_uniform('src', '$base/uni')")
    assert(rows(DeltaImport.scan(spark, s"$base/uni")) == rows(t.scan()))
    assert(rows(IcebergImport.scan(spark,
      s"$base/uni/metadata/v2.metadata.json")) == rows(t.scan()))
  }

  test("hive-special partition values (space, %, +) survive the whole " +
      "handoff: encoded add paths, exact partitionValues, round-trip " +
      "scans, and publish deltas that never flip-flop") {
    val base = TestSpark.tmpDir("delta-specials")
    val src = Seq((1, "a b", 1.0), (2, "50%", 2.0), (3, "x+y", 3.0))
      .toDF("id", "p", "v")
    val lt = LakeTable.create(spark, s"$base/t", src.schema,
      partitionBy = Seq("p"))
    lt.append(src)
    DeltaExport.export(lt, s"$base/delta")
    val st = DeltaImport.state(spark, s"$base/delta", None)
    // partitionValues carry the DECODED values exactly
    assert(st.adds.flatMap(_.partitionValues("p")).toSet ==
      Set("a b", "50%", "x+y"))
    // scan is row-identical (the encoded/decoded join-key class)
    assert(rows(DeltaImport.scan(spark, s"$base/delta")) == rows(lt.scan()))
    // an APPEND-ONLY publish after the fix must emit zero removes
    // (an encoding mismatch would make every file look new AND gone)
    lt.append(Seq((4, "a b", 4.0)).toDF("id", "p", "v"))
    DeltaExport.publish(lt, s"$base/delta")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    val v1 = LakeTable.readString(fs, new Path(
      s"$base/delta/_delta_log/00000000000000000001.json"))
    assert(!v1.contains("\"remove\""), "append-only publish leaked removes")
    assert(v1.split('\n').count(_.contains("\"add\"")) == 1)
    assert(rows(DeltaImport.scan(spark, s"$base/delta")) == rows(lt.scan()))
    // partition-value pruning still exact on the special values
    assert(rows(DeltaImport.scanWhere(spark, s"$base/delta",
      col("p") === "50%")) == rows(lt.scan().where(col("p") === "50%")))

    // the Iceberg side of the same class — including MOR position
    // deletes whose file_path VALUES must translate to the read key
    val lt2 = LakeTable.create(spark, s"$base/t2", src.schema,
      partitionBy = Seq("p"),
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    lt2.append(src)
    lt2.delete(col("id") === 2) // position-delete artifact
    val meta = IcebergExport.export(lt2, s"$base/ice")
    assert(rows(IcebergImport.scan(spark, meta)) == rows(lt2.scan()))
  }

  test("incrementalScan reads exactly a range's added rows and " +
      "refuses non-append-only ranges") {
    val base = TestSpark.tmpDir("delta-inc")
    val lt = LakeTable.create(spark, s"$base/t",
      Seq((1, 1.0)).toDF("id", "v").schema)
    lt.append(Seq((1, 1.0), (2, 2.0)).toDF("id", "v"))
    DeltaExport.export(lt, s"$base/delta")           // v0
    lt.append(Seq((3, 3.0)).toDF("id", "v"))
    DeltaExport.publish(lt, s"$base/delta")          // v1 append-only
    lt.append(Seq((4, 4.0)).toDF("id", "v"))
    DeltaExport.publish(lt, s"$base/delta")          // v2 append-only
    lt.delete(col("id") === 1)
    DeltaExport.publish(lt, s"$base/delta")          // v3 removes
    assert(rows(DeltaImport.incrementalScan(spark, s"$base/delta",
      0L, Some(2L))) == Set(Seq(3, 3.0), Seq(4, 4.0)))
    assert(rows(DeltaImport.incrementalScan(spark, s"$base/delta",
      1L, Some(2L))) == Set(Seq(4, 4.0)))
    val e = intercept[IllegalArgumentException] {
      DeltaImport.incrementalScan(spark, s"$base/delta", 2L, Some(3L))
        .collect()
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("timestampAsOf resolves versions by commitInfo timestamps; " +
      "register_delta/register_iceberg federate views in place; " +
      "maintenance.publish-* mirrors on maintain()") {
    val base = TestSpark.tmpDir("delta-ts")
    val cat = new LakeCatalog(spark, s"$base/cat")
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "src",
      Seq((1, 2.0)).toDF("id", "v").schema,
      properties = Map(
        LakeTable.PROP_MAINT_PUBLISH_UNIFORM -> s"$base/uni"))
    t.append(Seq((1, 2.0)).toDF("id", "v"))
    val acts1 = t.maintain().map(_._1)
    assert(acts1.contains("publish_iceberg") &&
      acts1.contains("publish_delta"))
    val ts1 = System.currentTimeMillis()
    Thread.sleep(5)
    t.append(Seq((2, 3.0)).toDF("id", "v"))
    t.maintain()
    // timestamp between the two publishes resolves to version 0
    assert(DeltaImport.versionAt(spark, s"$base/uni", ts1) == 0L)
    assert(DeltaImport.scanAt(spark, s"$base/uni", ts1).count() == 1L)
    assert(DeltaImport.scan(spark, s"$base/uni").count() == 2L)
    intercept[IllegalArgumentException] {
      DeltaImport.versionAt(spark, s"$base/uni", 1000L) // before all
    }
    // federated views over both formats of the SAME uniform dir
    LakeSql.run(cat, "ns",
      s"CALL system.register_delta('$base/uni', 'v_delta')")
    LakeSql.run(cat, "ns", s"CALL system.register_iceberg(" +
      s"'$base/uni/metadata/v2.metadata.json', 'v_ice')")
    val both = spark.sql(
      """SELECT (SELECT sum(id) FROM v_delta) AS d,
        |       (SELECT sum(id) FROM v_ice) AS i""".stripMargin).head
    assert(both.getLong(0) == 3L && both.getLong(1) == 3L)
  }

  test("hive-special partition values survive checkpoint-seeded replay " +
      "and aged-JSON cleanup: encoded checkpoint paths, exact " +
      "partitionValues, no spurious publish deltas") {
    val base = TestSpark.tmpDir("delta-ckpt-specials")
    val src = Seq((1, "a b", 1.0), (2, "50%", 2.0), (3, "x+y", 3.0))
      .toDF("id", "p", "v")
    val lt = LakeTable.create(spark, s"$base/t", src.schema,
      partitionBy = Seq("p"))
    lt.append(src)
    DeltaExport.export(lt, s"$base/delta")
    lt.append(Seq((4, "50%", 4.0)).toDF("id", "p", "v"))
    DeltaExport.publish(lt, s"$base/delta")
    val cv = DeltaExport.checkpoint(spark, s"$base/delta")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    // age out EVERY pre-checkpoint JSON commit (Delta log cleanup) —
    // state now comes exclusively from the checkpoint parquet
    (0L to cv).foreach(v => fs.delete(new Path(
      f"$base/delta/_delta_log/$v%020d.json"), false))
    val st = DeltaImport.state(spark, s"$base/delta", None)
    // the r15 bug: checkpoint stored the DECODED path, replay decoded
    // it AGAIN → p=50%25 dir resolved to p=50% and scans failed
    assert(st.adds.flatMap(_.partitionValues("p")).toSet ==
      Set("a b", "50%", "x+y"))
    assert(rows(DeltaImport.scan(spark, s"$base/delta")) == rows(lt.scan()))
    assert(rows(DeltaImport.scanWhere(spark, s"$base/delta",
      col("p") === "50%")) == rows(lt.scan().where(col("p") === "50%")))
    // publish on top of the checkpoint seed: canonical keys must line
    // up — an append adds ONE file and zero removes
    lt.append(Seq((5, "a b", 5.0)).toDF("id", "p", "v"))
    val c2 = DeltaExport.publish(lt, s"$base/delta")
    assert(c2.endsWith(f"${cv + 1}%020d.json"))
    val v2 = LakeTable.readString(fs, new Path(c2))
    assert(!v2.contains("\"remove\""),
      "checkpoint-seeded publish emitted spurious removes")
    assert(v2.split('\n').count(_.contains("\"add\"")) == 1)
    assert(rows(DeltaImport.scan(spark, s"$base/delta")) == rows(lt.scan()))
  }

  test("after checkpoint + full log cleanup, publish keeps appending " +
      "(never rewrites version 0) and export refuses the directory; " +
      "idempotence survives via the checkpointed txn action") {
    val base = TestSpark.tmpDir("delta-cleanup-pub")
    val lt = LakeTable.create(spark, s"$base/t",
      Seq((1, 1.0)).toDF("id", "v").schema)
    lt.append(Seq((1, 1.0)).toDF("id", "v"))
    DeltaExport.export(lt, s"$base/delta")
    lt.delete(col("id") === 1) // a remove → tombstone for the ckpt
    lt.append(Seq((2, 2.0)).toDF("id", "v"))
    DeltaExport.publish(lt, s"$base/delta")
    val cv = DeltaExport.checkpoint(spark, s"$base/delta")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    (0L to cv).foreach(v => fs.delete(new Path(
      f"$base/delta/_delta_log/$v%020d.json"), false))
    // the checkpoint carries the spec actions JSON cleanup destroyed:
    // the un-expired remove tombstone and the graft txn marker
    val ck = spark.read.parquet(
      f"$base/delta/_delta_log/$cv%020d.checkpoint.parquet")
    assert(ck.where(col("remove").isNotNull).count() >= 1L,
      "tombstones missing from the checkpoint")
    assert(ck.where(col("txn.appId") === "graft-publish").count() == 1L)
    // idempotent republish of the SAME snapshot: resolved from the
    // checkpointed txn (commitInfo is gone with the JSON) → no-op
    val same = DeltaExport.publish(lt, s"$base/delta")
    assert(same.endsWith(f"$cv%020d.json"),
      s"republish was not a no-op: $same")
    assert(!fs.exists(new Path(
      f"$base/delta/_delta_log/${cv + 1}%020d.json")))
    // the r15 bug: export() saw no version-0 JSON and rewrote history
    val e = intercept[IllegalArgumentException] {
      DeltaExport.export(lt, s"$base/delta")
    }
    assert(e.getMessage.contains("already holds a Delta log"))
    // a NEW snapshot still appends as cv+1 through publish
    lt.append(Seq((3, 3.0)).toDF("id", "v"))
    val c = DeltaExport.publish(lt, s"$base/delta")
    assert(c.endsWith(f"${cv + 1}%020d.json"),
      s"publish after cleanup must append, got $c")
    assert(rows(DeltaImport.scan(spark, s"$base/delta")) == rows(lt.scan()))
  }

  test("wide checkpoint (100k adds) replays through the distributed " +
      "columnar path with JSON-replay parity; the file-count gate " +
      "refuses loudly") {
    val base = TestSpark.tmpDir("delta-wide-ckpt")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    val meta = """{"metaData":{"id":"w","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{},"createdTime":1}}"""
    val n = 100000
    val lines = Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      meta) ++ (0 until n).map { i =>
      val node = mapper.createObjectNode()
      val a = node.putObject("add")
      a.put("path", s"part-$i.parquet")
      a.putObject("partitionValues")
      a.put("size", (i + 1).toLong)
      a.put("modificationTime", i.toLong)
      a.put("dataChange", true)
      a.put("stats", s"""{"numRecords":${i % 7}}""")
      mapper.writeValueAsString(node)
    }
    fs.mkdirs(new Path(s"$base/delta/_delta_log"))
    LakeTable.writeStringExclusive(fs,
      new Path(s"$base/delta/_delta_log/00000000000000000000.json"),
      lines.mkString("", "\n", "\n"))
    val viaJson = DeltaImport.state(spark, s"$base/delta", None)
    assert(viaJson.adds.size == n)
    DeltaExport.checkpoint(spark, s"$base/delta")
    fs.delete(new Path(
      s"$base/delta/_delta_log/00000000000000000000.json"), false)
    val viaCkpt = DeltaImport.state(spark, s"$base/delta", None)
    def key(a: DeltaImport.AddFile) =
      (a.uri, a.partitionValues, a.size, a.modificationTime, a.stats)
    assert(viaCkpt.adds.map(key).toSet == viaJson.adds.map(key).toSet,
      "checkpoint replay diverged from JSON replay")
    assert(viaCkpt.schema == viaJson.schema)
    // loud refusal above the planning bound
    spark.conf.set("spark.graft.delta.max-import-files", "1000")
    try {
      val e = intercept[IllegalArgumentException] {
        DeltaImport.state(spark, s"$base/delta", None)
      }
      assert(e.getMessage.contains("max-import-files"))
    } finally spark.conf.unset("spark.graft.delta.max-import-files")
  }

  test("registered Delta views prune through Catalyst pushdown: " +
      "partition predicates drop partitions, data predicates skip " +
      "files via the adds' stats — plan-asserted") {
    val base = TestSpark.tmpDir("delta-view-prune")
    val src = (1L to 1000L).map(i => (i, (i % 4).toString))
      .toDF("id", "part")
    val lt = LakeTable.create(spark, s"$base/t", src.schema,
      partitionBy = Seq("part"))
    lt.append(src.repartitionByRange(8, col("id")))
    DeltaExport.export(lt, s"$base/delta")
    val cat = new LakeCatalog(spark, s"$base/cat")
    cat.createNamespace("ns")
    LakeSql.run(cat, "ns",
      s"CALL system.register_delta('$base/delta', 'v_prune')")
    def planned(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scans.nonEmpty, "no FileSourceScanExec in plan")
      scans.flatMap(s => s.relation.location
        .listFiles(s.partitionFilters, s.dataFilters)
        .flatMap(_.files.map(_.getPath.toString)))
    }
    val all = planned(spark.table("v_prune"))
    // partition predicate prunes through the VIEW (the r15 gap)
    val pp = spark.sql("SELECT * FROM v_prune WHERE part = '2'")
    assert(planned(pp).size < all.size,
      s"partition predicate kept ${planned(pp).size}/${all.size}")
    assert(rows(pp) == rows(lt.scan().where(col("part") === "2")))
    // selective data predicate skips files via the adds' stats
    val dp = spark.sql("SELECT * FROM v_prune WHERE id <= 50")
    assert(planned(dp).size < all.size,
      s"data predicate kept ${planned(dp).size}/${all.size}")
    assert(rows(dp) == rows(lt.scan().where(col("id") <= 50)))
    // a predicate matching nothing plans zero files but stays correct
    val zp = spark.sql("SELECT * FROM v_prune WHERE id > 5000")
    assert(planned(zp).isEmpty)
    assert(zp.count() == 0L)
  }

  test("deletion-vector round-trip: consolidated graft DVs export as " +
      "spec Delta DVs (protocol 3/7 + feature), import applies them, " +
      "a grown DV publishes as remove+re-add, checkpoint preserves " +
      "them across log cleanup") {
    val base = TestSpark.tmpDir("delta-dv")
    val src = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
    val lt = LakeTable.create(spark, s"$base/t", src.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    lt.append(src.repartition(4))
    lt.delete(col("id") <= 20) // MOR position deletes
    lt.consolidateDeleteVectors() // → DV artifacts (L44)
    DeltaExport.export(lt, s"$base/delta")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())

    // protocol + descriptor shape
    val v0 = LakeTable.readString(fs, new Path(
      s"$base/delta/_delta_log/00000000000000000000.json"))
    val v0lines = v0.split('\n').filter(_.nonEmpty).map(mapper.readTree)
    val proto = v0lines.find(_.has("protocol")).get.path("protocol")
    assert(proto.path("minReaderVersion").asInt() == 3)
    assert(proto.path("readerFeatures").elements().asScala
      .map(_.asText()).toSet == Set("deletionVectors"))
    // the (3,7) upgrade must carry the legacy writer features the
    // pre-upgrade minWriterVersion=2 implied, not just the new one
    assert(proto.path("writerFeatures").elements().asScala
      .map(_.asText()).toSet ==
      Set("appendOnly", "invariants", "deletionVectors"))
    val dvAdds = v0lines.filter(n => n.has("add") &&
      n.path("add").hasNonNull("deletionVector"))
    assert(dvAdds.nonEmpty, "no add carried a deletionVector")
    dvAdds.foreach { n =>
      val d = n.path("add").path("deletionVector")
      assert(d.path("storageType").asText() == "u")
      assert(d.path("cardinality").asLong() > 0L)
      assert(mapper.readTree(n.path("add").path("stats").asText())
        .path("tightBounds").asBoolean(true) == false,
        "DV-bearing add must mark stats loose")
    }
    // the .bin lives in the EXPORT dir (zero-copy data untouched)
    assert(fs.listStatus(new Path(s"$base/delta")).exists(
      _.getPath.getName.startsWith("deletion_vector_")))

    // import applies the deletes
    assert(rows(DeltaImport.scan(spark, s"$base/delta")) == rows(lt.scan()))
    assert(DeltaImport.scan(spark, s"$base/delta").count() == 180L)

    // grow the DV → publish emits the remove + re-add pair
    lt.delete(col("id") <= 40)
    lt.consolidateDeleteVectors()
    val c1 = DeltaExport.publish(lt, s"$base/delta")
    val v1lines = LakeTable.readString(fs, new Path(c1))
      .split('\n').filter(_.nonEmpty).map(mapper.readTree)
    val rm = v1lines.filter(_.has("remove"))
      .map(_.path("remove").path("path").asText()).toSet
    val ad = v1lines.filter(_.has("add"))
      .map(_.path("add").path("path").asText()).toSet
    assert(rm.nonEmpty && rm == ad,
      s"DV growth must remove+re-add the same paths: rm=$rm ad=$ad")
    // each remove must name the REPLACED add's DV descriptor — foreign
    // replayers reconcile on (path, deletionVector.uniqueId), and a
    // remove without it would leave the old DV-bearing add live
    val v0DvByPath = v0lines.filter(n => n.has("add") &&
        n.path("add").hasNonNull("deletionVector"))
      .map(n => n.path("add").path("path").asText() ->
        n.path("add").path("deletionVector")).toMap
    v1lines.filter(_.has("remove")).foreach { n =>
      val r = n.path("remove")
      val p = r.path("path").asText()
      assert(r.hasNonNull("deletionVector"),
        s"remove of $p lost the replaced add's deletionVector")
      val want = v0DvByPath(p)
      Seq("storageType", "pathOrInlineDv", "offset", "sizeInBytes",
        "cardinality").foreach { f =>
        assert(r.path("deletionVector").path(f) == want.path(f),
          s"remove descriptor field $f diverged for $p")
      }
    }
    assert(rows(DeltaImport.scan(spark, s"$base/delta")) == rows(lt.scan()))

    // checkpoint keeps the DV descriptors through aged-JSON cleanup —
    // on the live adds AND on the un-expired remove tombstones (both
    // sides of the reconciliation key must survive re-emission)
    val cv = DeltaExport.checkpoint(spark, s"$base/delta")
    val ckDf = spark.read.parquet(
      f"$base/delta/_delta_log/$cv%020d.checkpoint.parquet")
    assert(ckDf.where(col("remove.deletionVector.cardinality") > 0L)
      .count() >= 1L,
      "checkpoint tombstones lost their deletionVector descriptors")
    (0L to cv).foreach(v => fs.delete(new Path(
      f"$base/delta/_delta_log/$v%020d.json"), false))
    val st = DeltaImport.state(spark, s"$base/delta", None)
    assert(st.adds.exists(_.dv.isDefined),
      "checkpoint-seeded state lost the deletion vectors")
    assert(rows(DeltaImport.scan(spark, s"$base/delta")) == rows(lt.scan()))
    assert(DeltaImport.scan(spark, s"$base/delta").count() == 160L)

    // import into a governed table materializes the POST-delete rows
    val imp = DeltaImport.importTable(spark, s"$base/delta",
      s"$base/copy")
    assert(rows(imp.scan()) == rows(lt.scan()))

    // EXECUTOR-SIDE decode parity: force the distributed path (driver
    // threshold 0) — same rows, and the DV bytes never aggregate on
    // the driver
    spark.conf.set("spark.graft.lake.dv-decode-driver-max-files", "0")
    try {
      assert(rows(DeltaImport.scan(spark, s"$base/delta")) ==
        rows(lt.scan()))
    } finally {
      spark.conf.unset("spark.graft.lake.dv-decode-driver-max-files")
      spark.catalog.clearCache()
    }
  }

  test("hostile DV logs refuse: DV add under a v1 protocol, unknown " +
      "v3 reader feature, unknown storageType at read time") {
    val base = TestSpark.tmpDir("delta-dv-hostile")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    def writeLog(dir: String, lines: Seq[String]): Unit = {
      fs.mkdirs(new Path(dir, "_delta_log"))
      LakeTable.writeStringExclusive(fs,
        new Path(dir, "_delta_log/00000000000000000000.json"),
        lines.mkString("", "\n", "\n"))
    }
    val meta = """{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{},"createdTime":1}}"""
    val dvAdd = """{"add":{"path":"f.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"xxxxxxxxxxxxxxxxxxxx","offset":1,"sizeInBytes":1,"cardinality":1}}}"""
    // v3 with deletionVectors is now READABLE — state() succeeds
    writeLog(s"$base/ok", Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      meta, dvAdd))
    val stOk = DeltaImport.state(spark, s"$base/ok", None)
    assert(stOk.adds.head.dv.exists(_.cardinality == 1L))
    // v3 with an UNKNOWN feature still refuses (v2Checkpoint is now a
    // KNOWN one — see the v2-checkpoint replay test)
    writeLog(s"$base/h1", Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","someFutureFeature"],"writerFeatures":[]}}""",
      meta))
    val e1 = intercept[IllegalArgumentException] {
      DeltaImport.state(spark, s"$base/h1", None)
    }
    assert(e1.getMessage.contains("someFutureFeature"))
    // a DV add under a protocol that never declared the feature
    writeLog(s"$base/h2", Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      meta, dvAdd))
    val e2 = intercept[IllegalArgumentException] {
      DeltaImport.state(spark, s"$base/h2", None)
    }
    assert(e2.getMessage.contains("deletionVector"))
  }

  test("v2 checkpoints (UUID-named manifest + _sidecars) seed state " +
      "from parquet AND json manifests; missing sidecars and " +
      "mislabeled checkpointMetadata refuse") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = TestSpark.tmpDir("delta-v2ckpt")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    val logDir = s"$base/t/_delta_log"
    fs.mkdirs(new Path(logDir))
    // two single-row data files referenced absolutely
    def dataFile(tag: String, id: Long): (String, Long) = {
      val dir = s"$base/files/$tag"
      Seq(id).toDF("id").coalesce(1).write.parquet(dir)
      val st = fs.listStatus(new Path(dir))
        .filter(_.getPath.getName.endsWith(".parquet")).head
      (st.getPath.toUri.toString, st.getLen)
    }
    val (p1, s1) = dataFile("f1", 1L)
    val (p2, s2) = dataFile("f2", 2L)
    val schemaStr = """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""
    def jstr(x: String) = "\"" + x.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    val protoLine = """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}"""
    val metaLine = s"""{"metaData":{"id":"v2ck","format":{"provider":"parquet","options":{}},"schemaString":"$schemaStr","partitionColumns":[],"configuration":{},"createdTime":1}}"""
    LakeTable.writeStringExclusive(fs,
      new Path(logDir, "00000000000000000000.json"),
      Seq(protoLine, metaLine,
        s"""{"add":{"path":${jstr(p1)},"partitionValues":{},"size":$s1,"modificationTime":1,"dataChange":true}}""")
        .mkString("", "\n", "\n"))
    LakeTable.writeStringExclusive(fs,
      new Path(logDir, "00000000000000000001.json"),
      s"""{"add":{"path":${jstr(p2)},"partitionValues":{},"size":$s2,"modificationTime":1,"dataChange":true}}""" + "\n")
    // declared v2Checkpoint feature is readable via plain JSON replay
    assert(DeltaImport.state(spark, s"$base/t", None).adds.size == 2)

    // sidecar parquet: the two add actions
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType,
        valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType)))
    val scT = StructType(Seq(StructField("add", addT)))
    val scRows = Seq(
      Row(Row(p1, Map.empty[String, String], s1, 1L, true)),
      Row(Row(p2, Map.empty[String, String], s2, 1L, true)))
    val staging = s"$base/staging-sc"
    spark.createDataFrame(
      spark.sparkContext.parallelize(scRows, 1), scT)
      .coalesce(1).write.parquet(staging)
    fs.mkdirs(new Path(logDir, "_sidecars"))
    val scPart = fs.listStatus(new Path(staging))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    fs.rename(scPart, new Path(logDir, "_sidecars/sc-1.parquet"))
    val scLen = fs.getFileStatus(
      new Path(logDir, "_sidecars/sc-1.parquet")).getLen

    // PARQUET v2 manifest: protocol + metaData + checkpointMetadata +
    // sidecar rows under the UUID-named file
    val protocolT = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    val metaT = StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    val ckT = StructType(Seq(StructField("version", LongType)))
    val sideT = StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType)))
    val manT = StructType(Seq(
      StructField("protocol", protocolT),
      StructField("metaData", metaT),
      StructField("checkpointMetadata", ckT),
      StructField("sidecar", sideT)))
    val schemaJson = schemaStr.replace("\\\"", "\"")
    val manRows = Seq(
      Row(Row(3, 7, Seq("v2Checkpoint"), Seq("v2Checkpoint")),
        null, null, null),
      Row(null, Row("v2ck", Row("parquet", Map.empty[String, String]),
        schemaJson, Seq.empty[String], Map.empty[String, String], 1L),
        null, null),
      Row(null, null, Row(1L), null),
      Row(null, null, null, Row("sc-1.parquet", scLen, 0L)))
    val staging2 = s"$base/staging-man"
    spark.createDataFrame(
      spark.sparkContext.parallelize(manRows, 1), manT)
      .coalesce(1).write.parquet(staging2)
    val manPart = fs.listStatus(new Path(staging2))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val manName =
      "00000000000000000001.checkpoint.80a083e8-7026-4e79.parquet"
    fs.rename(manPart, new Path(logDir, manName))
    LakeTable.writeStringExclusive(fs, new Path(logDir,
      "_last_checkpoint"), """{"version":1,"size":4}""")
    // age out every JSON commit: state must come from the v2 seed
    Seq(0L, 1L).foreach(v => fs.delete(new Path(
      logDir, f"$v%020d.json"), false))
    val st = DeltaImport.state(spark, s"$base/t", None)
    assert(st.version == 1L && st.adds.size == 2)
    assert(st.readerFeatures == Set("v2Checkpoint"))
    assert(rows(DeltaImport.scan(spark, s"$base/t")) ==
      Set(Seq(1L), Seq(2L)))

    // JSON v2 manifest variant (same sidecar)
    fs.delete(new Path(logDir, manName), false)
    LakeTable.writeStringExclusive(fs, new Path(logDir,
      "00000000000000000001.checkpoint.80a083e8-7026-4e79.json"),
      Seq(protoLine, metaLine,
        """{"checkpointMetadata":{"version":1}}""",
        s"""{"sidecar":{"path":"sc-1.parquet","sizeInBytes":$scLen,"modificationTime":0}}""")
        .mkString("", "\n", "\n"))
    assert(rows(DeltaImport.scan(spark, s"$base/t")) ==
      Set(Seq(1L), Seq(2L)))

    // mislabeled checkpointMetadata refuses
    fs.delete(new Path(logDir,
      "00000000000000000001.checkpoint.80a083e8-7026-4e79.json"), false)
    LakeTable.writeStringExclusive(fs, new Path(logDir,
      "00000000000000000001.checkpoint.bad0bad0.json"),
      Seq(protoLine, metaLine,
        """{"checkpointMetadata":{"version":7}}""",
        s"""{"sidecar":{"path":"sc-1.parquet","sizeInBytes":$scLen,"modificationTime":0}}""")
        .mkString("", "\n", "\n"))
    val eBad = intercept[IllegalArgumentException] {
      DeltaImport.state(spark, s"$base/t", None)
    }
    assert(eBad.getMessage.contains("names version 7"))

    // a missing sidecar refuses by name
    fs.delete(new Path(logDir,
      "00000000000000000001.checkpoint.bad0bad0.json"), false)
    LakeTable.writeStringExclusive(fs, new Path(logDir,
      "00000000000000000001.checkpoint.cafecafe.json"),
      Seq(protoLine, metaLine,
        """{"checkpointMetadata":{"version":1}}""",
        """{"sidecar":{"path":"gone.parquet","sizeInBytes":1,"modificationTime":0}}""")
        .mkString("", "\n", "\n"))
    val eGone = intercept[IllegalArgumentException] {
      DeltaImport.state(spark, s"$base/t", None)
    }
    assert(eGone.getMessage.contains("sidecar") &&
      eGone.getMessage.contains("missing"))
  }

  test("versionAt prefers commitInfo.inCommitTimestamp over the wall " +
      "timestamp (the in-commit-timestamps monotonic clock)") {
    val base = TestSpark.tmpDir("delta-ict")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    val meta = """{"metaData":{"id":"ict","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{},"createdTime":1}}"""
    fs.mkdirs(new Path(s"$base/t/_delta_log"))
    def wv(v: Long, ci: String): Unit =
      LakeTable.writeStringExclusive(fs,
        new Path(s"$base/t/_delta_log/" + f"$v%020d.json"),
        (Seq(ci) ++ (if (v == 0L) Seq(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          meta) else Nil)).mkString("", "\n", "\n"))
    // wall timestamps are SKEWED backwards; inCommitTimestamp is the
    // monotonic truth
    wv(0L, """{"commitInfo":{"timestamp":5000,"inCommitTimestamp":1000}}""")
    wv(1L, """{"commitInfo":{"timestamp":2000,"inCommitTimestamp":3000}}""")
    assert(DeltaImport.versionAt(spark, s"$base/t", 1500L) == 0L)
    assert(DeltaImport.versionAt(spark, s"$base/t", 3000L) == 1L)
    // without ict, the wall timestamp still resolves (legacy rule)
    intercept[IllegalArgumentException] {
      DeltaImport.versionAt(spark, s"$base/t", 999L) // before all
    }
  }

  test("timestampNtz reader feature: a TIMESTAMP_NTZ table reads " +
      "(pure type marker — the parquet reader handles the type)") {
    val base = TestSpark.tmpDir("delta-tsntz")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    spark.sql("SELECT CAST('2021-01-03 04:05:06' AS TIMESTAMP_NTZ) ts")
      .coalesce(1).write.parquet(s"$base/files/f1")
    val st0 = fs.listStatus(new Path(s"$base/files/f1"))
      .filter(_.getPath.getName.endsWith(".parquet")).head
    def jstr(x: String) = "\"" + x.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    fs.mkdirs(new Path(s"$base/t/_delta_log"))
    LakeTable.writeStringExclusive(fs,
      new Path(s"$base/t/_delta_log/00000000000000000000.json"),
      Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}""",
        """{"metaData":{"id":"ntz","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"ts\",\"type\":\"timestamp_ntz\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{},"createdTime":1}}""",
        s"""{"add":{"path":${jstr(st0.getPath.toUri.toString)},"partitionValues":{},"size":${st0.getLen},"modificationTime":1,"dataChange":true}}""")
        .mkString("", "\n", "\n"))
    val st = DeltaImport.state(spark, s"$base/t", None)
    assert(st.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    assert(DeltaImport.scan(spark, s"$base/t").collect()
      .map(_.get(0).toString).toSeq ==
      Seq("2021-01-03T04:05:06"))
  }

  test("variantType reader feature: VARIANT columns read natively " +
      "(unshredded metadata+value pair); variantShredding-preview " +
      "refuses; field extraction and distributed-decode parity hold") {
    val base = TestSpark.tmpDir("delta-variant")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    spark.sql("SELECT id, parse_json(to_json(named_struct(" +
        "'k', id * 10, 's', concat('v', id)))) v FROM range(5)")
      .coalesce(1).write.parquet(s"$base/files/f1")
    val st0 = fs.listStatus(new Path(s"$base/files/f1"))
      .filter(_.getPath.getName.endsWith(".parquet")).head
    def jstr(x: String) = "\"" + x.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.VariantType))).json
    def mkLog(dir: String, feats: String): Unit = {
      fs.mkdirs(new Path(s"$dir/_delta_log"))
      LakeTable.writeStringExclusive(fs,
        new Path(s"$dir/_delta_log/00000000000000000000.json"),
        Seq(
          s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":$feats,"writerFeatures":$feats}}""",
          s"""{"metaData":{"id":"var","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schemaJson)},"partitionColumns":[],"configuration":{},"createdTime":1}}""",
          s"""{"add":{"path":${jstr(st0.getPath.toUri.toString)},"partitionValues":{},"size":${st0.getLen},"modificationTime":1,"dataChange":true}}""")
          .mkString("", "\n", "\n"))
    }
    mkLog(s"$base/t", """["variantType"]""")
    val st = DeltaImport.state(spark, s"$base/t", None)
    assert(st.schema("v").dataType ==
      org.apache.spark.sql.types.VariantType)
    val got = DeltaImport.scan(spark, s"$base/t")
      .selectExpr("id", "variant_get(v, '$.k', 'long')",
        "variant_get(v, '$.s', 'string')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(got == (0L until 5L).map(i => (i, i * 10, s"v$i")).toSet)
    // a SHREDDED variant table scatters typed sub-columns this reader
    // does not reassemble — refuse by feature name
    mkLog(s"$base/shred",
      """["variantType","variantShredding-preview"]""")
    val e = intercept[IllegalArgumentException] {
      DeltaImport.state(spark, s"$base/shred", None)
    }
    assert(e.getMessage.contains("variantShredding-preview"))
  }

  test("typeWidening: pre-widening files read natively under the wide " +
      "schema (int->long, float->double across files); unimplemented " +
      "widenings refuse per declared change") {
    val base = TestSpark.tmpDir("delta-widen")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    def dataFile(tag: String, sql: String): (String, Long) = {
      val dir = s"$base/files/$tag"
      spark.sql(sql).coalesce(1).write.parquet(dir)
      val st0 = fs.listStatus(new Path(dir))
        .filter(_.getPath.getName.endsWith(".parquet")).head
      (st0.getPath.toUri.toString, st0.getLen)
    }
    // f1 written under the NARROW schema (a int, b float); f2 after
    // the widening (a long, b double)
    val (p1, s1) = dataFile("f1",
      "SELECT CAST(1 AS INT) a, CAST(1.5 AS FLOAT) b")
    val (p2, s2) = dataFile("f2",
      "SELECT CAST(8589934592 AS LONG) a, CAST(2.5 AS DOUBLE) b")
    def jstr(x: String) = "\"" + x.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    val wideSchema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"a\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"delta.typeChanges\":[{\"fromType\":\"integer\",\"toType\":\"long\",\"tableVersion\":1}]}},{\"name\":\"b\",\"type\":\"double\",\"nullable\":true,\"metadata\":{\"delta.typeChanges\":[{\"fromType\":\"float\",\"toType\":\"double\",\"tableVersion\":1}]}}]}"""
    val proto = """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening"],"writerFeatures":["typeWidening"]}}"""
    fs.mkdirs(new Path(s"$base/t/_delta_log"))
    LakeTable.writeStringExclusive(fs,
      new Path(s"$base/t/_delta_log/00000000000000000000.json"),
      Seq(proto,
        s"""{"metaData":{"id":"tw","format":{"provider":"parquet","options":{}},"schemaString":"$wideSchema","partitionColumns":[],"configuration":{},"createdTime":1}}""",
        s"""{"add":{"path":${jstr(p1)},"partitionValues":{},"size":$s1,"modificationTime":1,"dataChange":true}}""",
        s"""{"add":{"path":${jstr(p2)},"partitionValues":{},"size":$s2,"modificationTime":1,"dataChange":true}}""")
        .mkString("", "\n", "\n"))
    val st = DeltaImport.state(spark, s"$base/t", None)
    assert(st.schema("a").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(rows(DeltaImport.scan(spark, s"$base/t")) ==
      Set(Seq(1L, 1.5), Seq(8589934592L, 2.5)))

    // an UNIMPLEMENTED widening (long->double loses precision and the
    // parquet reader fails on it) refuses with the change named
    val badSchema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"a\",\"type\":\"double\",\"nullable\":true,\"metadata\":{\"delta.typeChanges\":[{\"fromType\":\"long\",\"toType\":\"double\",\"tableVersion\":1}]}}]}"""
    fs.mkdirs(new Path(s"$base/bad/_delta_log"))
    LakeTable.writeStringExclusive(fs,
      new Path(s"$base/bad/_delta_log/00000000000000000000.json"),
      Seq(proto,
        s"""{"metaData":{"id":"tw2","format":{"provider":"parquet","options":{}},"schemaString":"$badSchema","partitionColumns":[],"configuration":{},"createdTime":1}}""")
        .mkString("", "\n", "\n"))
    val e = intercept[IllegalArgumentException] {
      DeltaImport.state(spark, s"$base/bad", None)
    }
    assert(e.getMessage.contains("long -> double"))

    // the support matrix itself
    assert(DeltaImport.wideningSupported("integer", "long"))
    assert(DeltaImport.wideningSupported("byte", "short"))
    assert(DeltaImport.wideningSupported("float", "double"))
    assert(DeltaImport.wideningSupported("date", "timestampNtz"))
    assert(DeltaImport.wideningSupported("integer", "decimal(10,0)"))
    assert(DeltaImport.wideningSupported("long", "decimal(20,0)"))
    assert(DeltaImport.wideningSupported("decimal(5,2)", "decimal(10,4)"))
    assert(!DeltaImport.wideningSupported("long", "double"))
    assert(!DeltaImport.wideningSupported("long", "integer"))
    assert(!DeltaImport.wideningSupported("long", "decimal(10,0)"))
    assert(!DeltaImport.wideningSupported("decimal(10,4)", "decimal(5,2)"))
    assert(!DeltaImport.wideningSupported("string", "long"))
  }

  test("file actions reconcile on (path, deletionVector.uniqueId): a " +
      "cross-version DV update resolves to the new descriptor and " +
      "tombstones the old; a log that leaves two adds live per path " +
      "refuses") {
    val base = TestSpark.tmpDir("delta-reconcile")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    val meta = """{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{},"createdTime":1}}"""
    val proto = """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""
    def dv(tag: String, card: Long) =
      s""""deletionVector":{"storageType":"u","pathOrInlineDv":"$tag","offset":1,"sizeInBytes":8,"cardinality":$card}"""
    def add(dvJson: String) =
      s"""{"add":{"path":"f.parquet","partitionValues":{},"size":9,"modificationTime":1,"dataChange":true,$dvJson}}"""
    def remove(dvJson: String) =
      s"""{"remove":{"path":"f.parquet","deletionTimestamp":${System.currentTimeMillis()},"dataChange":true,$dvJson}}"""
    def writeV(dir: String, v: Long, lines: Seq[String]): Unit = {
      fs.mkdirs(new Path(dir, "_delta_log"))
      LakeTable.writeStringExclusive(fs,
        new Path(dir, f"_delta_log/$v%020d.json"),
        lines.mkString("", "\n", "\n"))
    }
    // conforming DV update across versions: remove(old) + add(new)
    writeV(s"$base/ok", 0L, Seq(proto, meta,
      add(dv("aaaaaaaaaaaaaaaaaaaa", 2))))
    writeV(s"$base/ok", 1L, Seq(
      remove(dv("aaaaaaaaaaaaaaaaaaaa", 2)),
      add(dv("bbbbbbbbbbbbbbbbbbbb", 5))))
    val st = DeltaImport.state(spark, s"$base/ok", None)
    assert(st.adds.size == 1)
    assert(st.adds.head.dv.exists(_.cardinality == 5L),
      "the DV update must resolve to the NEW descriptor")
    assert(st.tombstones.exists(t =>
      t.rawPath == "f.parquet" && t.dv.exists(_.cardinality == 2L)),
      "the replaced add must tombstone WITH its old descriptor")
    // the same update with a descriptor-less remove cancels the wrong
    // key (the r16 export bug shape) — the old add stays live and the
    // reader must refuse the double-scan state rather than mask it
    writeV(s"$base/bad", 0L, Seq(proto, meta,
      add(dv("aaaaaaaaaaaaaaaaaaaa", 2))))
    writeV(s"$base/bad", 1L, Seq(
      """{"remove":{"path":"f.parquet","deletionTimestamp":1,"dataChange":true}}""",
      add(dv("bbbbbbbbbbbbbbbbbbbb", 5))))
    val e = intercept[IllegalArgumentException] {
      DeltaImport.state(spark, s"$base/bad", None)
    }
    assert(e.getMessage.contains("MULTIPLE live add"))
    // within one commit, remove+add of the SAME key: add wins
    writeV(s"$base/same", 0L, Seq(proto, meta,
      remove(dv("cccccccccccccccccccc", 3)),
      add(dv("cccccccccccccccccccc", 3))))
    val st2 = DeltaImport.state(spark, s"$base/same", None)
    assert(st2.adds.size == 1 && st2.tombstones.isEmpty)
  }

  test("SQL surface: export_delta / publish_delta / checkpoint_delta " +
      "/ import_delta") {
    val base = TestSpark.tmpDir("delta-sql")
    val cat = new LakeCatalog(spark, s"$base/cat")
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "src",
      Seq((1, 2.0)).toDF("id", "v").schema)
    t.append(Seq((1, 2.0), (2, 3.0)).toDF("id", "v"))
    val out = LakeSql.run(cat, "ns",
      s"CALL system.export_delta('src', '$base/delta')")
    assert(out.columns.toSeq == Seq("commit_path"))
    t.append(Seq((3, 4.0)).toDF("id", "v"))
    LakeSql.run(cat, "ns",
      s"CALL system.publish_delta('src', '$base/delta')")
    LakeSql.run(cat, "ns",
      s"CALL system.checkpoint_delta('$base/delta')")
    // retention 0: every commit at or below the checkpoint ages out
    val cleaned = LakeSql.run(cat, "ns",
      s"CALL system.cleanup_delta('$base/delta', 0)")
      .select("deleted_commits").head.getLong(0)
    assert(cleaned == 2L, s"expected 2 aged commits deleted, got $cleaned")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(
      s"$base/delta/_delta_log/00000000000000000000.json")))
    // state reconstructs from the checkpoint; import still exact
    val imp = LakeSql.run(cat, "ns",
      s"CALL system.import_delta('$base/delta', 'copy')")
    assert(imp.select("row_count").head.getLong(0) == 3L)
    assert(rows(cat.loadTable("ns", "copy").scan()) == rows(t.scan()))
    // cleanup without a checkpoint refuses
    val t2 = cat.createTable("ns", "src2",
      Seq((1, 2.0)).toDF("id", "v").schema)
    t2.append(Seq((1, 2.0)).toDF("id", "v"))
    LakeSql.run(cat, "ns",
      s"CALL system.export_delta('src2', '$base/delta2')")
    val e = intercept[IllegalArgumentException] {
      LakeSql.run(cat, "ns",
        s"CALL system.cleanup_delta('$base/delta2', 0)")
    }
    assert(e.getMessage.contains("checkpoint"))
  }

  test("row tracking export: a lineage table publishes as an ENABLED " +
      "rowTracking log (baseRowId on every add, materialized column " +
      "config, high-water domainMetadata), lineageScan ids equal " +
      "graft's own, and a checkpoint carries all of it") {
    val base = TestSpark.tmpDir("delta-rowtrack")
    val src = (1L to 40L).map(i => (i, s"v$i")).toDF("id", "s")
    val t = LakeTable.create(spark, s"$base/t", src.schema,
      properties = Map(LakeTable.PROP_ROW_LINEAGE -> "true"))
    t.append(src.coalesce(1))
    // COW update: rewritten file materializes preserved _row_ids —
    // the export's materialized-column config must point readers at it
    t.update(col("id") % 4 === 0, Map("s" -> lit("upd")))
    t.delete(col("id") % 9 === 0)
    DeltaExport.publish(t, s"$base/delta")
    val st = DeltaImport.state(spark, s"$base/delta", None)
    assert(st.minWriterVersion == 7 &&
      st.writerFeatures("rowTracking") &&
      st.writerFeatures("domainMetadata"))
    // no DVs/variant live: the table stays maximally READABLE
    assert(st.minReaderVersion == 1 && st.readerFeatures.isEmpty)
    assert(st.configuration.get("delta.rowTracking.enabled")
      .contains("true"))
    assert(st.configuration
      .get("delta.rowTracking.materializedRowIdColumnName")
      .contains(LakeTable.ROW_ID_COL))
    assert(st.adds.nonEmpty && st.adds.forall(_.baseRowId.isDefined))
    assert(st.adds.forall(_.defaultRowCommitVersion.isDefined))
    val hwm = st.domainMetadata("delta.rowTracking")
    assert(!hwm._2 && hwm._1.contains("rowIdHighWaterMark"))
    val expectNext = t.properties(LakeTable.PROP_NEXT_ROW_ID).toLong
    assert(mapper.readTree(hwm._1).path("rowIdHighWaterMark")
      .asLong() == expectNext - 1L)

    def idsOf(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col("id"), col(c)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val own = idsOf(t.scanWithLineage(), LakeTable.ROW_ID_COL)
    val foreign = idsOf(
      DeltaImport.lineageScan(spark, s"$base/delta"), "_row_id")
    assert(foreign == own, "foreign ids must equal graft's lineage")
    assert(foreign.values.toSeq.distinct.size == foreign.size)

    // checkpoint fidelity: baseRowId + domainMetadata survive the
    // fold, so a checkpoint-seeded reader still resolves the same ids
    DeltaExport.checkpoint(spark, s"$base/delta")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.listStatus(new Path(s"$base/delta/_delta_log")).foreach { f =>
      if (f.getPath.getName.matches("""\d{20}\.json"""))
        fs.delete(f.getPath, false)
    }
    val st2 = DeltaImport.state(spark, s"$base/delta", None)
    assert(st2.adds.forall(_.baseRowId.isDefined))
    assert(st2.domainMetadata.contains("delta.rowTracking"))
    assert(idsOf(DeltaImport.lineageScan(spark, s"$base/delta"),
      "_row_id") == own)

    // SQL surface: the lineage view federates with _row_id
    val cat = new LakeCatalog(spark, s"$base/cat")
    LakeSql.run(cat, "ns", "CALL system.register_delta_lineage(" +
      s"'$base/delta', 'rt_view')")
    assert(idsOf(spark.table("rt_view"), "_row_id") == own)
  }

  test("row tracking hostile logs: supported-but-disabled refuses, a " +
      "baseRowId-less add refuses by file, an undeclared feature " +
      "refuses, and a foreign materialized column OVERRIDES the " +
      "fresh id exactly where it is non-null") {
    val base = TestSpark.tmpDir("delta-rt-hostile")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    // one real parquet file: 4 rows, a materialized-id column whose
    // value is set ONLY for row 2 (delta writers leave fresh rows
    // null) — under baseRowId=100 ids must be 100,101,777,103
    spark.sql("SELECT id, concat('v', id) AS s, " +
        "CASE WHEN id = 2 THEN 777L ELSE NULL END AS _rid_mat " +
        "FROM range(4)")
      .coalesce(1).write.parquet(s"$base/files/f1")
    val st0 = fs.listStatus(new Path(s"$base/files/f1"))
      .filter(_.getPath.getName.endsWith(".parquet")).head
    def jstr(x: String) = "\"" + x.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType))).json
    def mkLog(dir: String, cfg: String, feats: String,
        addExtra: String): Unit = {
      fs.mkdirs(new Path(s"$dir/_delta_log"))
      LakeTable.writeStringExclusive(fs,
        new Path(s"$dir/_delta_log/00000000000000000000.json"),
        Seq(
          s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":$feats}}""",
          s"""{"metaData":{"id":"rt","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schemaJson)},"partitionColumns":[],"configuration":$cfg,"createdTime":1}}""",
          s"""{"add":{"path":${jstr(st0.getPath.toUri.toString)},"partitionValues":{},"size":${st0.getLen},"modificationTime":1,"dataChange":true$addExtra}}""")
          .mkString("", "\n", "\n"))
    }
    val enabledCfg = """{"delta.rowTracking.enabled":"true",""" +
      """"delta.rowTracking.materializedRowIdColumnName":"_rid_mat"}"""
    val feats = """["rowTracking","domainMetadata"]"""

    mkLog(s"$base/good", enabledCfg, feats, ""","baseRowId":100""")
    val got = DeltaImport.lineageScan(spark, s"$base/good")
      .select(col("id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 100L, 1L -> 101L, 2L -> 777L, 3L -> 103L),
      s"materialized override must win only at row 2: $got")
    // plain scan is UNCHANGED by lineage internals
    assert(DeltaImport.scan(spark, s"$base/good").columns.toSeq ==
      Seq("id", "s"))

    mkLog(s"$base/disabled", "{}", feats, ""","baseRowId":100""")
    val e1 = intercept[IllegalArgumentException](
      DeltaImport.lineageScan(spark, s"$base/disabled"))
    assert(e1.getMessage.contains("not enabled"))

    mkLog(s"$base/nobase", enabledCfg, feats, "")
    val e2 = intercept[IllegalArgumentException](
      DeltaImport.lineageScan(spark, s"$base/nobase"))
    assert(e2.getMessage.contains("baseRowId") &&
      e2.getMessage.contains("f1"))

    mkLog(s"$base/nofeat", enabledCfg, """["appendOnly"]""",
      ""","baseRowId":100""")
    val e3 = intercept[IllegalArgumentException](
      DeltaImport.lineageScan(spark, s"$base/nofeat"))
    assert(e3.getMessage.contains("rowTracking"))
  }

  test("WRITER-only table features never gate the read: a log " +
      "declaring clustering/icebergCompatV2/inCommitTimestamp/" +
      "checkpointProtection (the 2025 delta-spark defaults) scans — " +
      "only reader features change what the bytes mean; an unknown " +
      "READER feature still refuses") {
    val base = TestSpark.tmpDir("delta-writer-feats")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$base/files/f1")
    val part = fs.listStatus(new Path(s"$base/files/f1"))
      .filter(_.getPath.getName.endsWith(".parquet")).head
    def jstr(x: String) = "\"" + x.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    val schemaJson = Seq((1L, "a")).toDF("id", "v").schema.json
    def mk(dir: String, proto: String): Unit =
      LakeTable.writeStringExclusive(fs,
        new Path(s"$dir/_delta_log/00000000000000000000.json"),
        Seq(proto,
          s"""{"metaData":{"id":"wf","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schemaJson)},"partitionColumns":[],"configuration":{},"createdTime":1}}""",
          s"""{"domainMetadata":{"domain":"delta.clustering","configuration":"{\\"clusteringColumns\\":[[\\"id\\"]]}","removed":false}}""",
          s"""{"add":{"path":${jstr(part.getPath.toUri.toString)},"partitionValues":{},"size":${part.getLen},"modificationTime":1,"dataChange":true}}""")
          .mkString("", "\n", "\n"))
    mk(s"$base/t",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
        """"writerFeatures":["appendOnly","invariants","clustering",""" +
        """"icebergCompatV2","inCommitTimestamp",""" +
        """"checkpointProtection","domainMetadata"]}}""")
    assert(DeltaImport.scan(spark, s"$base/t")
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(DeltaImport.state(spark, s"$base/t", None)
      .domainMetadata.contains("delta.clustering"))
    // the SAME names on the READER side are unknown semantics — refuse
    mk(s"$base/bad",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["clustering"],""" +
        """"writerFeatures":["clustering"]}}""")
    val e = intercept[IllegalArgumentException](
      DeltaImport.state(spark, s"$base/bad", None))
    assert(e.getMessage.contains("clustering"))
  }

  test("CDF production: per-commit publishes emit spec cdc actions " +
      "(_change_data files, partition values in the action) that " +
      "changeScan consumes with file-action precedence; compaction " +
      "publishes dataChange=false and feeds NOTHING; multi-commit " +
      "delete gaps refuse with the per-commit rule") {
    val base = TestSpark.tmpDir("delta-cdf-prod")
    val src = (1L to 30L).map(i => (i, s"v$i", i % 3)).toDF("id", "v", "g")
    val t = LakeTable.create(spark, s"$base/t", src.schema,
      partitionBy = Seq("g"),
      properties = Map(LakeTable.PROP_PUBLISH_CDF -> "true"))
    t.append(src.repartition(4)) // several files per partition to compact
    DeltaExport.publish(t, s"$base/d")                    // version 0
    t.merge(Seq((3L, "u", 0L), (6L, "u", 0L)).toDF("id", "v", "g"),
      Seq("id"))
    DeltaExport.publish(t, s"$base/d")                    // version 1
    t.delete(col("id") % 5 === 0)
    DeltaExport.publish(t, s"$base/d")                    // version 2
    t.compact(1)
    DeltaExport.publish(t, s"$base/d")                    // version 3
    t.append(Seq((31L, "a31", 1L), (32L, "a32", 2L)).toDF("id", "v", "g"))
    DeltaExport.publish(t, s"$base/d")                    // version 4

    val st = DeltaImport.state(spark, s"$base/d", None)
    assert(st.writerFeatures("changeDataFeed"))
    assert(st.configuration.get("delta.enableChangeDataFeed")
      .contains("true"))

    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    def logLines(v: Long) = LakeTable.readString(fs, new Path(
        f"$base/d/_delta_log/$v%020d.json"))
      .split('\n').filter(_.nonEmpty).map(mapper.readTree)
    // the update's cdc actions exist, live under _change_data/, and
    // carry the ACTION-side partition values (files don't store g)
    val cdc1 = logLines(1).filter(_.has("cdc")).map(_.path("cdc"))
    assert(cdc1.nonEmpty)
    assert(cdc1.forall(c =>
      c.path("path").asText().startsWith("_change_data/") &&
        c.path("partitionValues").has("g") &&
        !c.path("dataChange").asBoolean(true)))
    assert(!spark.read.parquet(cdc1.map(c => new Path(s"$base/d",
        c.path("path").asText()).toString): _*)
      .columns.contains("g"), "cdc files must not store partition cols")
    // the compaction version: no cdc, every file action dataChange=false
    val v3 = logLines(3)
    assert(!v3.exists(_.has("cdc")))
    val v3Files = v3.filter(n => n.has("add") || n.has("remove"))
    assert(v3Files.nonEmpty && v3Files.forall { n =>
      val a = if (n.has("add")) n.path("add") else n.path("remove")
      !a.path("dataChange").asBoolean(true)
    }, "a pure rewrite must publish dataChange=false actions")
    // insert-only versions carry no cdc (synthesis is exact)
    assert(!logLines(4).exists(_.has("cdc")))

    // END-TO-END through the independent CDF reader: cdc versions
    // deliver exactly the changelog's rows (file-action precedence —
    // the merge REWROTE whole partition files; synthesizing them
    // would multiply rows), compaction contributes nothing,
    // insert-only synthesizes inserts
    val got = DeltaImport.changeScan(spark, s"$base/d", 0L)
      .select(col("id"), col("v"), col("g"), col("_change_type"),
        col("_commit_version"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4))).toSet
    val expect =
      Set((3L, "v3", 0L, "delete", 1L), (3L, "u", 0L, "insert", 1L),
        (6L, "v6", 0L, "delete", 1L), (6L, "u", 0L, "insert", 1L)) ++
      Seq(5L, 10L, 15L, 20L, 25L, 30L)
        .map(i => (i, s"v$i", i % 3, "delete", 2L)).toSet ++
      Set((31L, "a31", 1L, "insert", 4L), (32L, "a32", 2L, "insert", 4L))
    assert(got == expect, s"diff: ${(got -- expect)} / ${(expect -- got)}")

    // two row-level commits since the last publish: change data is
    // only well-ordered per commit — refuse with the rule named
    t.delete(col("id") === 1L)
    t.delete(col("id") === 2L)
    val e = intercept[IllegalArgumentException](
      DeltaExport.publish(t, s"$base/d"))
    assert(e.getMessage.contains("per"), e.getMessage)
  }

  test("CDF production over a MERGE-ON-READ table: the DV-growth " +
      "publish carries cdc actions — exactly what makes a DV version " +
      "CDF-consumable (the reader refuses DV changes without cdc) — " +
      "and the feed shows just the deleted rows") {
    val base = TestSpark.tmpDir("delta-cdf-mor")
    val src = (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, s"$base/t", src.schema,
      properties = Map(
        LakeTable.PROP_PUBLISH_CDF -> "true",
        LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    t.append(src.coalesce(1))
    DeltaExport.export(t, s"$base/d")                     // version 0
    t.delete(col("id") % 8 === 0)
    t.consolidateDeleteVectors()
    DeltaExport.publish(t, s"$base/d")                    // version 1
    val st = DeltaImport.state(spark, s"$base/d", None)
    assert(st.adds.exists(_.dv.isDefined),
      "publish must carry the deletion vector")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    val v1 = LakeTable.readString(fs, new Path(
        s"$base/d/_delta_log/00000000000000000001.json"))
      .split('\n').filter(_.nonEmpty).map(mapper.readTree)
    assert(v1.exists(_.has("cdc")),
      "a DV-growth publish on a CDF table must emit cdc actions")
    // the feed is EXACTLY the deleted rows (carried rows cancel),
    // consumed through the reader that refuses DV-without-cdc
    val got = DeltaImport.changeScan(spark, s"$base/d", 0L)
      .select(col("id"), col("_change_type"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got == Seq(8L, 16L, 24L, 32L, 40L)
      .map(i => (i, "delete", 1L)).toSet, s"$got")
    // live scans agree end-to-end
    assert(DeltaImport.scan(spark, s"$base/d").count() == 35L)
  }
}
