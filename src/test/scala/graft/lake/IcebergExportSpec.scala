package graft.lake

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Iceberg-spec v2 export round-trip. No Iceberg jar exists offline, so
  * the check re-reads the written artifacts with the SAME avro/jackson
  * libraries and verifies (a) every spec-REQUIRED v2 field is present
  * with the spec's field-ids, (b) the manifest's values agree with the
  * graft manifest (paths, rows, bytes, partition values), and (c) the
  * referenced parquet — untouched, absolute-URI, zero-copy — scans back
  * row-identical to the graft table. */
class IcebergExportSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def localFile(uri: String): File =
    if (uri.startsWith("file:")) new File(new java.net.URI(uri))
    else new File(uri)

  private def avroRecords(uri: String): Seq[GenericRecord] = {
    val r = DataFileReader.openReader(localFile(uri),
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toList finally r.close()
  }

  test("unpartitioned export: spec-required metadata, manifest values " +
      "equal the graft manifest, referenced parquet scans identical") {
    val df = (1L to 500L).map(i => (i, s"v$i", i * 1.5))
      .toDF("id", "v", "x")
    val t = LakeTable.create(spark, TestSpark.tmpDir("ice-flat") + "/t",
      df.schema)
    t.append(df.where($"id" <= 300).repartition(2))
    t.append(df.where($"id" > 300).repartition(1))
    val dest = TestSpark.tmpDir("ice-flat-out")
    val metaPath = IcebergExport.export(t, dest)

    val meta = Snapshot.mapper.readTree(
      java.nio.file.Files.readString(localFile(metaPath).toPath))
    // spec-required v2 top-level fields
    Seq("format-version", "table-uuid", "location",
      "last-sequence-number", "last-updated-ms", "last-column-id",
      "schemas", "current-schema-id", "partition-specs",
      "default-spec-id", "last-partition-id", "sort-orders",
      "default-sort-order-id", "current-snapshot-id", "snapshots")
      .foreach(k => assert(meta.has(k), s"metadata.json lacks $k"))
    assert(meta.path("format-version").asInt() == 2)
    assert(meta.path("current-snapshot-id").asLong() ==
      t.currentSnapshotId.get)
    val schemaFields = meta.path("schemas").get(0).path("fields")
      .elements().asScala.toSeq
    assert(schemaFields.map(_.path("name").asText()) ==
      Seq("id", "v", "x"))
    assert(schemaFields.map(_.path("id").asInt()) == Seq(1, 2, 3))
    assert(meta.path("last-column-id").asInt() == 3)

    // manifest list → manifest → entries
    val listUri = meta.path("snapshots").get(0)
      .path("manifest-list").asText()
    val listRecs = avroRecords(listUri)
    assert(listRecs.size == 1)
    val mf = listRecs.head
    assert(mf.get("content").asInstanceOf[Int] == 0)
    assert(mf.get("added_files_count").asInstanceOf[Int] == 3)
    assert(mf.get("added_rows_count").asInstanceOf[Long] == 500L)
    assert(mf.get("manifest_length").asInstanceOf[Long] ==
      localFile(mf.get("manifest_path").toString).length())

    val entries = avroRecords(mf.get("manifest_path").toString)
    assert(entries.size == 3)
    val snap = t.currentSnapshot.get
    val byPath = entries.map { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      assert(e.get("status").asInstanceOf[Int] == 1)
      assert(d.get("file_format").toString == "PARQUET")
      assert(d.get("content").asInstanceOf[Int] == 0)
      d.get("file_path").toString ->
        (d.get("record_count").asInstanceOf[Long],
          d.get("file_size_in_bytes").asInstanceOf[Long])
    }.toMap
    snap.liveFiles.foreach { rel =>
      val abs = byPath.keys.find(_.endsWith(rel)).getOrElse(
        fail(s"manifest lacks $rel"))
      val info = snap.entries(rel).info
      assert(byPath(abs) == (info.rows, info.bytes))
    }
    // zero-copy: the exported table's file list scans row-identical
    val viaExport = spark.read.parquet(byPath.keys.toSeq: _*)
    assert(viaExport.orderBy("id").collect().toSeq ==
      t.scan().orderBy("id").collect().toSeq)
  }

  test("identity-partitioned export carries partition spec + values") {
    val df = (1L to 100L).map(i => (i, s"g${i % 4}", i * 2.0))
      .toDF("id", "grp", "x")
    val t = LakeTable.create(spark, TestSpark.tmpDir("ice-part") + "/t",
      df.schema, partitionBy = Seq("grp"))
    t.append(df)
    val dest = TestSpark.tmpDir("ice-part-out")
    val metaPath = IcebergExport.export(t, dest)
    val meta = Snapshot.mapper.readTree(
      java.nio.file.Files.readString(localFile(metaPath).toPath))
    val specField = meta.path("partition-specs").get(0).path("fields")
      .get(0)
    assert(specField.path("name").asText() == "grp")
    assert(specField.path("transform").asText() == "identity")
    assert(specField.path("source-id").asInt() == 2)
    assert(specField.path("field-id").asInt() == 1000)
    val listUri = meta.path("snapshots").get(0)
      .path("manifest-list").asText()
    val mf = avroRecords(listUri).head
    val parts = avroRecords(mf.get("manifest_path").toString).map { e =>
      e.get("data_file").asInstanceOf[GenericRecord]
        .get("partition").asInstanceOf[GenericRecord]
        .get("grp").toString
    }.toSet
    assert(parts == Set("g0", "g1", "g2", "g3"))
  }

  test("truncate over an int source exports with int type and values " +
      "(Iceberg: truncate's result type IS the source type)") {
    val df = (1 to 100).map(i => (i, i.toLong, s"v$i"))
      .toDF("n", "id", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("ice-trunc") + "/t",
      df.schema, partitionBy = Seq("truncate(25, n)"))
    t.append(df)
    val metaPath = IcebergExport.export(t,
      TestSpark.tmpDir("ice-trunc-out"))
    val meta = Snapshot.mapper.readTree(
      java.nio.file.Files.readString(localFile(metaPath).toPath))
    val listUri = meta.path("snapshots").get(0)
      .path("manifest-list").asText()
    val mf = avroRecords(listUri).head
    val entries = avroRecords(mf.get("manifest_path").toString)
    val partField = entries.head.get("data_file")
      .asInstanceOf[GenericRecord].getSchema
      .getField("partition").schema().getFields.get(0)
    // nullable union ["null", int] — the non-null branch must be INT
    val nonNull = partField.schema().getTypes.asScala
      .filter(_.getType != org.apache.avro.Schema.Type.NULL)
    assert(nonNull.map(_.getType) ==
      Seq(org.apache.avro.Schema.Type.INT), s"got $nonNull")
    val parts = entries.map(_.get("data_file")
      .asInstanceOf[GenericRecord]
      .get("partition").asInstanceOf[GenericRecord]
      .get(partField.name)).toSet
    assert(parts.forall(_.isInstanceOf[java.lang.Integer]))
    assert(parts.map(_.asInstanceOf[java.lang.Integer].intValue()) ==
      Set(0, 25, 50, 75, 100))
  }

  test("MOR export: position artifacts + deletion vectors re-encode " +
      "as one v2 position-delete file; (data − positions) scans back " +
      "row-identical") {
    val df = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("ice-mor2") + "/t",
      df.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    t.append(df.repartition(4))
    (1 to 10).foreach(i => t.delete($"id" === i.toLong))
    t.consolidateDeleteVectors() // 10 dels now live in a DV bitset
    t.delete($"id" >= 990L)      // 11 more as loose position files
    assert(t.currentSnapshot.get.dvFiles.nonEmpty &&
      t.currentSnapshot.get.posDeleteFiles.nonEmpty)
    val expect = t.scan().orderBy("id").collect().toSeq
    assert(expect.size == 979)

    val dest = TestSpark.tmpDir("ice-mor2-out")
    val metaPath = IcebergExport.export(t, dest)
    val conf = spark.sessionState.newHadoopConf()
    val meta = Snapshot.mapper.readTree(
      java.nio.file.Files.readString(localFile(metaPath).toPath))
    assert(meta.path("snapshots").get(0).path("summary")
      .path("operation").asText() == "overwrite")

    // manifest list: one DATA + one DELETES manifest
    val listRecs = avroRecords(meta.path("snapshots").get(0)
      .path("manifest-list").asText())
    assert(listRecs.map(_.get("content").asInstanceOf[Int]).sorted ==
      Seq(0, 1))
    val delMf = listRecs.find(_.get("content") == Int.box(1)).get
    assert(delMf.get("added_files_count").asInstanceOf[Int] == 1)
    assert(delMf.get("added_rows_count").asInstanceOf[Long] == 21L)

    // the DELETES manifest entry: spec-required fields, content=1
    val delEntries = avroRecords(delMf.get("manifest_path").toString)
    assert(delEntries.size == 1)
    val de = delEntries.head.get("data_file").asInstanceOf[GenericRecord]
    assert(de.get("content").asInstanceOf[Int] == 1)
    assert(de.get("file_format").toString == "PARQUET")
    assert(de.get("record_count").asInstanceOf[Long] == 21L)
    val delUri = de.get("file_path").toString
    assert(IcebergExport.readDeleteEntries(metaPath, conf) ==
      Seq(delUri -> 21L))

    // the delete parquet itself: reserved field-ids in its schema,
    // rows sorted by (file_path, pos), every file_path
    // string-identical to a data manifest entry
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(delUri), conf))
    val pqFields =
      try footer.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(f => f.getName -> f.getId.intValue()).toMap
      finally footer.close()
    assert(pqFields == Map(
      "file_path" -> 2147483546, "pos" -> 2147483545.toInt))
    val dels = spark.read.parquet(delUri)
      .select($"file_path".cast("string"), $"pos").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(dels.size == 21)
    assert(dels == dels.sorted, "delete rows must be sorted")
    val dataUris = IcebergExport.readEntries(metaPath, conf)
    assert(dataUris.size == 4) // delete manifest filtered out
    assert(dels.map(_._1).toSet.subsetOf(dataUris.map(_._1).toSet),
      "delete file_path values must match data entries exactly")

    // engine-free reconstruction: read the manifest's data files with
    // plain Spark, anti-join the exported positions — row-identical
    // to the graft scan (join on the table-relative tail: Spark's
    // _metadata.file_path and Hadoop's qualified URI may differ in
    // slash spelling, which is exactly why the manifest-exact match
    // is asserted separately above)
    def tail(s: org.apache.spark.sql.Column) =
      regexp_extract(s, "^(?:.*/)?(data/.+)$", 1)
    val delDf = spark.read.parquet(delUri)
      .select(tail($"file_path").as("__f"), $"pos".as("__p"))
    val rebuilt = spark.read.parquet(dataUris.map(_._1): _*)
      .select($"id", $"v", tail(col("_metadata.file_path")).as("__f"),
        col("_metadata.row_index").as("__p"))
      .join(delDf, Seq("__f", "__p"), "left_anti")
      .select("id", "v").orderBy("id").collect().toSeq
    assert(rebuilt == expect)
  }

  test("MOR export of a PARTITIONED table registers the unpartitioned " +
      "delete spec and scopes the DELETES manifest to it") {
    val df = (1L to 200L).map(i => (i, s"g${i % 4}", s"v$i"))
      .toDF("id", "grp", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("ice-morp") + "/t",
      df.schema, partitionBy = Seq("grp"),
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    t.append(df)
    t.delete($"id" % 10L === 0L) // 20 deletes spanning partitions
    val expect = t.scan().orderBy("id").collect().toSeq
    val metaPath = IcebergExport.export(t,
      TestSpark.tmpDir("ice-morp-out"))
    val conf = spark.sessionState.newHadoopConf()
    val meta = Snapshot.mapper.readTree(
      java.nio.file.Files.readString(localFile(metaPath).toPath))
    val specs = meta.path("partition-specs").elements().asScala.toSeq
    assert(specs.map(_.path("spec-id").asInt()) == Seq(0, 1))
    assert(specs(1).path("fields").size() == 0)
    assert(meta.path("default-spec-id").asInt() == 0)
    val listRecs = avroRecords(meta.path("snapshots").get(0)
      .path("manifest-list").asText())
    val delMf = listRecs.find(_.get("content") == Int.box(1)).get
    assert(delMf.get("partition_spec_id").asInstanceOf[Int] == 1)
    // reconstruction across hive partition dirs
    def tail(s: org.apache.spark.sql.Column) =
      regexp_extract(s, "^(?:.*/)?(data/.+)$", 1)
    val delUri = IcebergExport.readDeleteEntries(metaPath, conf).head._1
    val delDf = spark.read.parquet(delUri)
      .select(tail($"file_path").as("__f"), $"pos".as("__p"))
    val dataUris = IcebergExport.readEntries(metaPath, conf).map(_._1)
    val rebuilt = spark.read.parquet(dataUris: _*)
      .select($"id", $"v",
        tail(col("_metadata.file_path")).as("__f"),
        col("_metadata.row_index").as("__p"))
      .join(delDf, Seq("__f", "__p"), "left_anti")
      .select("id", "v").orderBy("id").collect().toSeq
    assert(rebuilt.map(_.getLong(0)) == expect.map(_.getLong(0)))
    assert(rebuilt.size == 180)
  }

  test("EQUALITY deletes export with faithful sequences: strictly " +
      "older matching rows suppressed, same/later re-inserts survive") {
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark,
      TestSpark.tmpDir("ice-eq") + "/t", df.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    t.append(df)                                        // data seq 2
    t.deleteByKeys((1L to 3L).toDF("id"), Seq("id"))    // eq seq 3
    t.append(Seq((1L, "new1"), (2L, "new2"))
      .toDF("id", "v"))                                 // data seq 4
    t.deleteByKeys(Seq(Tuple1(2L)).toDF("id"), Seq("id")) // eq seq 5
    t.delete($"id" === 50L)       // position artifact on top (seq 6)
    val expect = t.scan().orderBy("id", "v").collect().toSeq
    assert(expect.map(_.getLong(0)).count(_ == 1L) == 1) // re-insert lives
    assert(!expect.map(_.getLong(0)).contains(2L))       // re-kill holds
    assert(expect.size == 97)

    val metaPath = IcebergExport.export(t, TestSpark.tmpDir("ice-eq-out"))
    val conf = spark.sessionState.newHadoopConf()
    // the DELETES manifest carries BOTH kinds; eq entries declare the
    // key's field id and their own commit sequence
    val eqs = IcebergExport.readEqualityDeleteEntries(metaPath, conf)
    assert(eqs.map(e => (e._2, e._3, e._4)).sortBy(_._2) ==
      Seq((3L, 3L, Seq(1)), (1L, 5L, Seq(1))))
    assert(IcebergExport.readDeleteEntries(metaPath, conf).size == 1)
    // eq parquet: key column under the table's field id
    val eqFooter = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(eqs.head._1), conf))
    val eqFields =
      try eqFooter.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(f => f.getName -> f.getId.intValue()).toMap
      finally eqFooter.close()
    assert(eqFields == Map("id" -> 1))

    // engine-free reconstruction implementing the spec's rules:
    // position deletes by (path, pos); equality deletes suppress key
    // matches of STRICTLY smaller data sequence
    def tail(s: org.apache.spark.sql.Column) =
      regexp_extract(s, "^(?:.*/)?(data/.+)$", 1)
    val entries = IcebergExport.readEntries(metaPath, conf)
    val seqDf = entries.map(e =>
        (e._1.replaceFirst("^(?:.*/)?(?=data/)", ""), e._4))
      .toDF("__f", "__seq")
    var cur = spark.read.parquet(entries.map(_._1): _*)
      .select($"id", $"v", tail(col("_metadata.file_path")).as("__f"),
        col("_metadata.row_index").as("__p"))
      .join(seqDf, Seq("__f"))
    IcebergExport.readDeleteEntries(metaPath, conf).foreach {
      case (uri, _) =>
        val dels = spark.read.parquet(uri)
          .select(tail($"file_path").as("__f"), $"pos".as("__p"))
        cur = cur.join(dels, Seq("__f", "__p"), "left_anti")
    }
    eqs.foreach { case (uri, _, seq, ids) =>
      assert(ids == Seq(1))
      val keys = spark.read.parquet(uri).select($"id".as("__k"))
      cur = cur.join(keys,
        cur("id") === col("__k") && cur("__seq") < lit(seq), "left_anti")
    }
    assert(cur.select("id", "v").orderBy("id", "v").collect().toSeq ==
      expect)
  }

  test("time-travel export pins a retained historical snapshot: the " +
      "export sees the pre-mutation state, HEAD is untouched") {
    val df = (1L to 60L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark,
      TestSpark.tmpDir("ice-tt") + "/t", df.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    t.append(df)
    val pinned = t.currentSnapshotId.get // 60 rows, no deletes
    t.delete($"id" <= 10L)
    t.append(Seq((61L, "late")).toDF("id", "v"))
    assert(t.scan().count() == 51)
    val conf = spark.sessionState.newHadoopConf()
    val metaPath = IcebergExport.export(t,
      TestSpark.tmpDir("ice-tt-out"), atSnapshot = Some(pinned))
    val entries = IcebergExport.readEntries(metaPath, conf)
    assert(entries.map(_._2).sum == 60L)
    assert(IcebergExport.readDeleteEntries(metaPath, conf).isEmpty,
      "the pinned snapshot predates every delete")
    val rebuilt = spark.read.parquet(entries.map(_._1): _*)
    assert(rebuilt.count() == 60)
    assert(rebuilt.agg(sum($"id")).head().getLong(0) == 1830L)
    // SQL surface: CALL with the optional snapshot argument
    val wh = TestSpark.tmpDir("ice-tt-sql")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("ns")
    cat.createTable("ns", "t2", df.schema)
    val t2 = cat.loadTable("ns", "t2")
    t2.append(df)
    val pin2 = t2.currentSnapshotId.get
    t2.append(Seq((99L, "x")).toDF("id", "v"))
    val out = cat.sql("ns", s"CALL system.export_iceberg('t2', " +
      s"'$wh/ice2', $pin2)").head().getString(0)
    assert(IcebergExport.readEntries(out, conf).map(_._2).sum == 60L)
  }

  test("per-file column statistics export as the spec's single-value " +
      "binary forms under the spec's k_v map field-ids") {
    val df = Seq((5L, "bb", 2.5, null.asInstanceOf[String]),
      (100L, "aa", -1.5, "x"))
      .toDF("id", "v", "x", "maybe")
    val t = LakeTable.create(spark, TestSpark.tmpDir("ice-stats") + "/t",
      df.schema)
    t.append(df.repartition(1))
    val metaPath = IcebergExport.export(t,
      TestSpark.tmpDir("ice-stats-out"))
    val meta = Snapshot.mapper.readTree(
      java.nio.file.Files.readString(localFile(metaPath).toPath))
    val listUri = meta.path("snapshots").get(0)
      .path("manifest-list").asText()
    val manifestUri = avroRecords(listUri).head
      .get("manifest_path").toString
    val entry = avroRecords(manifestUri).head
    val dfRec = entry.get("data_file").asInstanceOf[GenericRecord]
    // field ids assigned in schema order: id=1 v=2 x=3 maybe=4
    def kv(field: String): Map[Int, Any] =
      dfRec.get(field).asInstanceOf[java.util.List[_]].asScala.map { r =>
        val rec = r.asInstanceOf[GenericRecord]
        rec.get("key").asInstanceOf[Int] -> rec.get("value")
      }.toMap
    def bytesOf(v: Any): Array[Byte] = {
      val b = v.asInstanceOf[java.nio.ByteBuffer].duplicate()
      val a = new Array[Byte](b.remaining()); b.get(a); a
    }
    val lower = kv("lower_bounds"); val upper = kv("upper_bounds")
    // long 5 / 100, little-endian 8 bytes
    assert(bytesOf(lower(1)).toSeq ==
      Seq[Byte](5, 0, 0, 0, 0, 0, 0, 0))
    assert(bytesOf(upper(1)).toSeq ==
      Seq[Byte](100, 0, 0, 0, 0, 0, 0, 0))
    // string bounds: raw UTF-8
    assert(new String(bytesOf(lower(2)), "UTF-8") == "aa")
    assert(new String(bytesOf(upper(2)), "UTF-8") == "bb")
    // double −1.5 / 2.5, IEEE-754 little-endian
    assert(java.nio.ByteBuffer.wrap(bytesOf(lower(3)))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getDouble == -1.5)
    assert(java.nio.ByteBuffer.wrap(bytesOf(upper(3)))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getDouble == 2.5)
    // null count for the nullable column; value_counts = record_count
    assert(kv("null_value_counts")(4) == 1L)
    assert(kv("value_counts")(1) == 2L)
    // the avro schema carries the spec's map-entry field ids
    val loField = dfRec.getSchema.getField("lower_bounds").schema()
      .getTypes.asScala.find(_.getType ==
        org.apache.avro.Schema.Type.ARRAY).get.getElementType
    assert(loField.getField("key").getObjectProp("field-id") == 126)
    assert(loField.getField("value").getObjectProp("field-id") == 127)
  }

  test("refusal: schema-evolved files (rename / add column) cannot " +
      "export until compacted — then the round-trip carries the " +
      "evolved values") {
    val df = (1L to 60L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("ice-evo") + "/t",
      df.schema)
    t.append(df)
    t.renameColumn("v", "label")
    // pre-rename files read through the name mapping → refused
    val e1 = intercept[IllegalArgumentException](
      IcebergExport.export(t, TestSpark.tmpDir("ice-evo-out0")))
    assert(e1.getMessage.contains("compact"))
    t.addColumn("score", org.apache.spark.sql.types.LongType,
      defaultSql = Some("7"))
    val e2 = intercept[IllegalArgumentException](
      IcebergExport.export(t, TestSpark.tmpDir("ice-evo-out1")))
    assert(e2.getMessage.contains("schema evolution"))
    // compaction rewrites every file under the CURRENT schema (renamed
    // physical names, defaults materialized) and clears the mapping
    t.compact()
    val metaPath = IcebergExport.export(t,
      TestSpark.tmpDir("ice-evo-out2"))
    val back = IcebergImport.scan(spark, metaPath)
    assert(back.columns.toSeq == Seq("id", "label", "score"))
    assert(back.where($"score" === 7L).count() == 60)
    assert(back.collect().map(_.toString).toSet ==
      t.scan().collect().map(_.toString).toSet)
  }

  test("refusal: native Spark-hash bucket transforms stay unexportable") {
    val df = (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
    val bt = LakeTable.create(spark,
      TestSpark.tmpDir("ice-bucket") + "/t", df.schema,
      partitionBy = Seq("bucket(4, id)"))
    bt.append(df)
    val e2 = intercept[IllegalArgumentException](
      IcebergExport.export(bt, TestSpark.tmpDir("ice-bucket-out")))
    assert(e2.getMessage.contains("bucket_iceberg"))
  }
}
