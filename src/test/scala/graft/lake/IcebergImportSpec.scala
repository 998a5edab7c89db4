package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The read half of the Iceberg handoff: [[IcebergImport.scan]] is an
  * INDEPENDENT general-purpose v2 reader (metadata.json → schema →
  * manifests → MOR-applied DataFrame), so export → import must land
  * row-identical to the governed graft scan through code that shares
  * nothing with the export's own verification helpers. */
class IcebergImportSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("flat round-trip: exported table scans back row- and " +
      "schema-identical through the general reader") {
    val df = (1L to 400L).map(i => (i, s"v$i", i * 1.5))
      .toDF("id", "v", "x")
    val t = LakeTable.create(spark, TestSpark.tmpDir("iceimp-flat") + "/t",
      df.schema)
    t.append(df.repartition(3))
    val meta = IcebergExport.export(t, TestSpark.tmpDir("iceimp-flat-out"))
    val back = IcebergImport.scan(spark, meta)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      t.scan().schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(rowsOf(back) == rowsOf(t.scan()))
  }

  test("identity partition columns come back from MANIFEST metadata " +
      "(the data files do not store them)") {
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0),
      (4L, null.asInstanceOf[String], 40.0))
      .toDF("id", "grp", "x")
    val t = LakeTable.create(spark, TestSpark.tmpDir("iceimp-part") + "/t",
      df.schema, partitionBy = Seq("grp"))
    t.append(df)
    // precondition: the physical parquet really lacks the column
    val oneFile = new org.apache.hadoop.fs.Path(t.root,
      t.currentSnapshot.get.liveFiles.head).toString
    assert(!spark.read.parquet(oneFile).columns.contains("grp"))
    val meta = IcebergExport.export(t, TestSpark.tmpDir("iceimp-part-out"))
    val back = IcebergImport.scan(spark, meta)
    assert(rowsOf(back) == rowsOf(t.scan()))
    assert(back.where($"grp" === "a").count() == 2)
    assert(back.where($"grp".isNull).count() == 1)
  }

  test("MOR round-trip: position deletes, a consolidated deletion " +
      "vector, and sequence-aware equality deletes all apply") {
    val df = (1L to 600L).map(i => (i, i % 7, s"p$i")).toDF("k", "g", "p")
    val t = LakeTable.create(spark, TestSpark.tmpDir("iceimp-mor") + "/t",
      df.schema, properties = Map(
        LakeTable.PROP_DELETE_MODE -> "merge-on-read",
        LakeTable.PROP_UPDATE_MODE -> "merge-on-read"))
    t.append(df)                                            // seq 2
    t.delete($"k" % 10 === 3)                               // pos, seq 3
    t.consolidateDeleteVectors()                            // DV
    t.delete($"g" === 5)                                    // pos, seq 5
    t.deleteByKeys(df.where($"k" % 9 === 1).select("k"), Seq("k")) // eq
    // re-insert some deleted keys: their NEWER data seq must survive
    // the older equality delete in both systems
    t.append(df.where($"k" % 18 === 1)
      .withColumn("p", concat(lit("re-"), $"p")))
    val meta = IcebergExport.export(t, TestSpark.tmpDir("iceimp-mor-out"))
    val back = IcebergImport.scan(spark, meta)
    assert(rowsOf(back) == rowsOf(t.scan()))
    assert(back.where($"p".startsWith("re-")).count() ==
      df.where($"k" % 18 === 1).count())
  }

  test("snapshot-pinned export scans back as the historical state") {
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("iceimp-tt") + "/t",
      df.schema)
    val s1 = t.append(df.where($"id" <= 50))
    t.append(df.where($"id" > 50))
    val meta = IcebergExport.export(t,
      TestSpark.tmpDir("iceimp-tt-out"), atSnapshot = Some(s1))
    val back = IcebergImport.scan(spark, meta)
    assert(rowsOf(back) == rowsOf(t.scanAt(s1)))
    assert(back.count() == 50)
  }

  test("array columns survive the type round-trip") {
    val df = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f)))
      .toDF("id", "emb")
    val t = LakeTable.create(spark, TestSpark.tmpDir("iceimp-arr") + "/t",
      df.schema)
    t.append(df)
    val meta = IcebergExport.export(t, TestSpark.tmpDir("iceimp-arr-out"))
    val back = IcebergImport.scan(spark, meta)
    assert(back.schema("emb").dataType ==
      ArrayType(FloatType, containsNull = true))
    assert(rowsOf(back) == rowsOf(t.scan()))
  }

  test("exported manifest bounds prune imported files: scanWhere plans " +
      "only the files whose bounds admit the predicate") {
    val df = (1L to 1000L).map(i => (i, s"v$i", (i % 10).toDouble))
      .toDF("id", "v", "x")
    val t = LakeTable.create(spark, TestSpark.tmpDir("iceimp-prune") + "/t",
      df.schema)
    // four files with disjoint id ranges → bounds separate them exactly
    (0L until 4L).foreach(b => t.append(
      df.where($"id" > b * 250 && $"id" <= (b + 1) * 250).repartition(1)))
    val meta = IcebergExport.export(t, TestSpark.tmpDir("iceimp-prune-out"))
    val conf = spark.sessionState.newHadoopConf()
    val tm = IcebergImport.load(meta, conf)
    assert(tm.dataEntries.size == 4)
    // every entry decoded bounds for id (long), v (string), x (double)
    tm.dataEntries.foreach { e =>
      assert(Set("id", "v", "x").subsetOf(e.stats.keySet), e.stats.keySet)
    }
    val pruned = IcebergImport.pruneEntries(spark, tm,
      $"id" >= 600L && $"id" <= 700L)
    assert(pruned.size == 1, pruned.map(_.stats.get("id")))
    val got = IcebergImport.scanWhere(spark, meta,
      $"id" >= 600L && $"id" <= 700L)
    assert(rowsOf(got) ==
      rowsOf(t.scan().where($"id" >= 600L && $"id" <= 700L)))
    // an unprunable predicate keeps everything and stays correct
    assert(IcebergImport.scanWhere(spark, meta,
      length($"v") === 3).count() ==
      t.scan().where(length($"v") === 3).count())
  }

  test("transform partition values prune imported files: day spec → " +
      "source-interval bounds; bucket_iceberg spec → spec-hash " +
      "set-membership BEYOND what column stats can prove") {
    // --- day(ts): each day's files plan only under a one-day predicate
    val df = (1 to 200).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        f"2021-03-${i % 4 + 1}%02d 10:00:${i % 60}%02d"), s"k$i")
    }.toDF("id", "ts", "k")
    val t = LakeTable.create(spark,
      TestSpark.tmpDir("iceimp-day") + "/t", df.schema,
      partitionBy = Seq("day(ts)"))
    t.append(df)
    val meta = IcebergExport.export(t,
      TestSpark.tmpDir("iceimp-day-out"))
    val conf = spark.sessionState.newHadoopConf()
    val tm = IcebergImport.load(meta, conf)
    assert(tm.dataEntries.size >= 4, "four day partitions expected")
    val dayPred = $"ts" >= lit("2021-03-02 00:00:00").cast("timestamp") &&
      $"ts" < lit("2021-03-03 00:00:00").cast("timestamp")
    val pruned = IcebergImport.pruneEntries(spark, tm, dayPred)
    assert(pruned.size < tm.dataEntries.size,
      s"day predicate kept ${pruned.size}/${tm.dataEntries.size}")
    assert(rowsOf(IcebergImport.scanWhere(spark, meta, dayPred)) ==
      rowsOf(t.scan().where(dayPred)))

    // --- bucket_iceberg(4, k): an equality literal prunes to the one
    // bucket — the string bounds of every file ADMIT the literal
    // (k1..k999 sort into every file), so ONLY the hash can prune
    val bt = LakeTable.create(spark,
      TestSpark.tmpDir("iceimp-buck") + "/t", df.schema,
      partitionBy = Seq("bucket_iceberg(4, k)"))
    bt.append(df)
    val bmeta = IcebergExport.export(bt,
      TestSpark.tmpDir("iceimp-buck-out"))
    val btm = IcebergImport.load(bmeta, conf)
    assert(btm.dataEntries.exists(_.buckets.nonEmpty),
      "bucket values missing from imported entries")
    val statsOnly = btm.dataEntries.filter { e =>
      e.stats.get("k").forall(cs =>
        cs.min <= "k150" && cs.max >= "k150") }
    assert(statsOnly.size > 1,
      "fixture broken: string bounds should not isolate one file")
    val bp = IcebergImport.pruneEntries(spark, btm, $"k" === "k150")
    assert(bp.size < btm.dataEntries.size,
      s"bucket predicate kept ${bp.size}/${btm.dataEntries.size}")
    assert(rowsOf(IcebergImport.scanWhere(spark, bmeta,
      $"k" === "k150")) == rowsOf(bt.scan().where($"k" === "k150")))
    // IN prunes to the union of buckets; a non-equality keeps all
    val bin = IcebergImport.pruneEntries(spark, btm,
      $"k".isin("k150", "k7"))
    assert(bin.size <= btm.dataEntries.size && bin.size >= bp.size)
    assert(IcebergImport.pruneEntries(spark, btm,
      $"k" > "k").size == btm.dataEntries.size)
  }

  test("transformBounds inverts every supported transform value to a " +
      "sound source interval and refuses the unsound ones") {
    import IcebergImport.transformBounds
    val d = 18687L // 2021-03-01 in epoch days
    assert(transformBounds("day", DateType, Long.box(d)) ==
      Some((d.toString, d.toString)))
    assert(transformBounds("day", TimestampType, Long.box(d)) ==
      Some(((d * 86400000000L).toString,
        ((d + 1) * 86400000000L - 1).toString)))
    assert(transformBounds("hour", TimestampType, Long.box(5L)) ==
      Some(((5L * 3600000000L).toString,
        (6L * 3600000000L - 1).toString)))
    // month 614 = 1970 + 51y + 2m → 2021-03
    val mLo = java.time.LocalDate.of(2021, 3, 1)
    assert(transformBounds("month", DateType, Long.box(614L)) ==
      Some((mLo.toEpochDay.toString,
        (mLo.plusMonths(1).toEpochDay - 1).toString)))
    val yLo = java.time.LocalDate.of(2021, 1, 1)
    assert(transformBounds("year", TimestampType, Long.box(51L)) ==
      Some(((yLo.toEpochDay * 86400000000L).toString,
        (yLo.plusYears(1).toEpochDay * 86400000000L - 1).toString)))
    assert(transformBounds("truncate[10]", LongType, Long.box(40L)) ==
      Some(("40", "49")))
    // unsound inversions refuse: bucket is a hash, string truncate
    // has no closed upper bound, unknown transforms unknown
    assert(transformBounds("bucket[16]", LongType, Long.box(3L)).isEmpty)
    assert(transformBounds("truncate[4]", StringType, "abcd").isEmpty)
    assert(transformBounds("void", LongType, Long.box(1L)).isEmpty)
    assert(transformBounds("zorder", LongType, Long.box(1L)).isEmpty)
  }

  test("incrementalScan reads exactly the rows a published range " +
      "added, and refuses non-append-only ranges") {
    val df = (1L to 300L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = LakeTable.create(spark, TestSpark.tmpDir("iceimp-inc") + "/t",
      df.schema, properties = Map(
        LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    val dest = TestSpark.tmpDir("iceimp-inc-out")
    val s1 = t.append(df.where($"id" <= 100))
    IcebergExport.publish(t, dest)
    val s2 = t.append(df.where($"id" > 100 && $"id" <= 200))
    IcebergExport.publish(t, dest)
    t.delete($"id" % 10 === 7)
    val s3 = t.currentSnapshotId.get
    val m3 = IcebergExport.publish(t, dest)
    // the (s1, s2] delta is exactly the second append
    val inc = IcebergImport.incrementalScan(spark, m3, s1, Some(s2))
    assert(rowsOf(inc) ==
      rowsOf(df.where($"id" > 100 && $"id" <= 200)))
    // a range crossing the delete is refused both ways
    val e1 = intercept[IllegalArgumentException](
      IcebergImport.incrementalScan(spark, m3, s2, Some(s3)))
    assert(e1.getMessage.contains("delete artifacts"))
    val e2 = intercept[IllegalArgumentException](
      IcebergImport.incrementalScan(spark, m3, s2, Some(s2)))
    assert(e2.getMessage.contains("range"))
  }

  test("importTable materializes a governed copy that keeps evolving") {
    val df = (1L to 200L).map(i => (i, s"v$i", i % 3)).toDF("k", "v", "g")
    val t = LakeTable.create(spark, TestSpark.tmpDir("iceimp-mat") + "/t",
      df.schema, properties = Map(
        LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    t.append(df)
    t.delete($"k" % 5 === 0)
    val meta = IcebergExport.export(t, TestSpark.tmpDir("iceimp-mat-out"))
    val imported = IcebergImport.importTable(spark, meta,
      TestSpark.tmpDir("iceimp-mat-dst") + "/t")
    assert(rowsOf(imported.scan()) == rowsOf(t.scan()))
    // the copy is a first-class table: no delete artifacts carried,
    // and row-level ops work on it immediately
    assert(imported.currentSnapshot.get.posDeleteFiles.isEmpty &&
      imported.currentSnapshot.get.deleteFiles.isEmpty)
    imported.delete($"g" === 1)
    assert(imported.scan().where($"g" === 1).count() == 0)
  }

  test("uuid columns read as their exact 16 bytes: a REAL parquet " +
      "fixed_len_byte_array(16) + UUID-annotation fixture (what every " +
      "conforming Iceberg writer stores) scans under the binary " +
      "mapping — a string mapping would fail the read outright") {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType,
      PrimitiveType, Types}
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter,
      GroupWriteSupport}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.io.api.Binary
    // export a (id, u binary) table, then swap its data file for a
    // REAL uuid-typed parquet with the same rows and patch the
    // metadata schema's type to "uuid" — the foreign-writer shape
    val uuids = (0 until 3).map { i =>
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putLong(0x0123456789abcdefL); bb.putLong(i.toLong)
      bb.array()
    }
    val df = uuids.zipWithIndex
      .map { case (u, i) => (i.toLong, u) }.toDF("id", "u")
    val t = LakeTable.create(spark,
      TestSpark.tmpDir("iceimp-uuid") + "/t", df.schema)
    t.append(df.coalesce(1))
    val outDir = TestSpark.tmpDir("iceimp-uuid-out")
    val meta = IcebergExport.export(t, outDir)
    val hconf = spark.sessionState.newHadoopConf()
    val entry = IcebergImport.load(meta, hconf).dataEntries.head
    val dataPath = new org.apache.hadoop.fs.Path(entry.uri)
    val fs = dataPath.getFileSystem(hconf)
    fs.delete(dataPath, false)
    val mt = new MessageType("t",
      Types.required(PrimitiveType.PrimitiveTypeName.INT64).named("id"),
      Types.required(PrimitiveType.PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY)
        .length(16).as(LogicalTypeAnnotation.uuidType()).named("u"))
    val wconf = new org.apache.hadoop.conf.Configuration(hconf)
    GroupWriteSupport.setSchema(mt, wconf)
    val w = ExampleParquetWriter.builder(dataPath).withConf(wconf)
      .withType(mt).build()
    val gf = new SimpleGroupFactory(mt)
    uuids.zipWithIndex.foreach { case (u, i) =>
      val g = gf.newGroup()
      g.add("id", i.toLong)
      g.add("u", Binary.fromConstantByteArray(u))
      w.write(g)
    }
    w.close()
    // patch the declared type binary -> uuid through the JSON tree
    // (the metadata is pretty-printed; text substitution no-ops)
    val metaP = new org.apache.hadoop.fs.Path(meta)
    locally {
      val m = Snapshot.mapper
      val root = m.readTree(LakeTable.readString(fs, metaP))
      var hit = false
      root.path("schemas").elements().asScala.foreach { sch =>
        sch.path("fields").elements().asScala.foreach {
          case f: com.fasterxml.jackson.databind.node.ObjectNode
              if f.path("name").asText() == "u" =>
            f.put("type", "uuid"); hit = true
          case _ => ()
        }
      }
      require(hit, "fixture drift: no field `u` to re-type")
      fs.delete(metaP, false)
      LakeTable.writeStringExclusive(fs, metaP,
        m.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    }
    val tm = IcebergImport.load(meta, hconf)
    assert(tm.schema("u").dataType == BinaryType)
    val got = IcebergImport.scan(spark, meta).collect()
      .map(r => r.getLong(0) ->
        r.get(1).asInstanceOf[Array[Byte]].toSeq).toMap
    assert(got == uuids.zipWithIndex
      .map { case (u, i) => i.toLong -> u.toSeq }.toMap,
      "uuid bytes must round-trip exactly")
  }

  /** Export a small (id, x) table, returning (metadata path, fs). The
    * v3-type tests patch the declared type of `x` and re-load. */
  private def exportPatchable(name: String, fv: Int = 2)
      : (String, org.apache.hadoop.fs.FileSystem) = {
    val df = (1L to 5L).map(i => (i, s"s$i")).toDF("id", "x")
    val t = LakeTable.create(spark,
      TestSpark.tmpDir(name) + "/t", df.schema)
    t.append(df.coalesce(1))
    val meta = IcebergExport.export(t,
      TestSpark.tmpDir(name + "-out"), formatVersion = fv)
    val fs = new org.apache.hadoop.fs.Path(meta).getFileSystem(
      spark.sessionState.newHadoopConf())
    (meta, fs)
  }

  /** Re-type the declared column `x` through the JSON TREE (the
    * metadata is pretty-printed, so text substitution would silently
    * no-op — measured). */
  private def patchType(meta: String,
      fs: org.apache.hadoop.fs.FileSystem, to: String,
      alsoRequired: Boolean = false): Unit = {
    val p = new org.apache.hadoop.fs.Path(meta)
    val m = Snapshot.mapper
    val root = m.readTree(LakeTable.readString(fs, p))
    var hit = false
    root.path("schemas").elements().asScala.foreach { sch =>
      sch.path("fields").elements().asScala.foreach {
        case f: com.fasterxml.jackson.databind.node.ObjectNode
            if f.path("name").asText() == "x" =>
          f.put("type", to)
          if (alsoRequired) f.put("required", true)
          hit = true
        case _ => ()
      }
    }
    require(hit, "fixture drift: no field `x` found to patch")
    fs.delete(p, false)
    LakeTable.writeStringExclusive(fs, p, m.writerWithDefaultPrettyPrinter()
      .writeValueAsString(root))
  }

  test("v3 type gates: timestamp_ns refuses naming the truncation, " +
      "geometry refuses by name, variant/unknown in V2 metadata " +
      "refuse as spec-invalid, REQUIRED unknown refuses") {
    locally { // nanosecond timestamps: silent µs truncation refused
      val (meta, fs) = exportPatchable("iceimp-ns")
      patchType(meta, fs, "timestamp_ns")
      val e = intercept[IllegalArgumentException](
        IcebergImport.load(meta, spark.sessionState.newHadoopConf()))
      assert(e.getMessage.contains("NANOSECOND"))
    }
    locally { // geometry: semantics (CRS, edges) would drop silently
      val (meta, fs) = exportPatchable("iceimp-geo")
      patchType(meta, fs, "geometry(srid:3857)")
      val e = intercept[IllegalArgumentException](
        IcebergImport.load(meta, spark.sessionState.newHadoopConf()))
      assert(e.getMessage.contains("geometry"))
    }
    locally { // v3-only type under format-version 2 metadata
      val (meta, fs) = exportPatchable("iceimp-varv2")
      patchType(meta, fs, "variant")
      val e = intercept[IllegalArgumentException](
        IcebergImport.load(meta, spark.sessionState.newHadoopConf()))
      assert(e.getMessage.contains("v3-only"))
    }
    locally { // required unknown is a spec contradiction
      val (meta, fs) = exportPatchable("iceimp-requnk", fv = 3)
      patchType(meta, fs, "unknown", alsoRequired = true)
      val e = intercept[IllegalArgumentException](
        IcebergImport.load(meta, spark.sessionState.newHadoopConf()))
      assert(e.getMessage.contains("unknown"))
    }
  }

  test("v3 unknown columns read as typed NULLs even though no data " +
      "file stores them") {
    // the spec shape: a column whose type was never resolved is ADDED
    // to the schema and absent from every data file
    val (meta, fs) = exportPatchable("iceimp-unk", fv = 3)
    locally {
      val p = new org.apache.hadoop.fs.Path(meta)
      val m = Snapshot.mapper
      val root = m.readTree(LakeTable.readString(fs, p))
      root.path("schemas").elements().asScala.foreach {
        case sch: com.fasterxml.jackson.databind.node.ObjectNode =>
          val f = sch.withArray[com.fasterxml.jackson.databind.node
            .ArrayNode]("fields").addObject()
          f.put("id", 99); f.put("name", "u")
          f.put("required", false); f.put("type", "unknown")
        case _ => ()
      }
      fs.delete(p, false)
      LakeTable.writeStringExclusive(fs, p,
        m.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    }
    val tm = IcebergImport.load(meta,
      spark.sessionState.newHadoopConf())
    assert(tm.schema("u").dataType ==
      org.apache.spark.sql.types.NullType)
    val got = IcebergImport.scan(spark, meta)
      .select(col("id"), col("u")).collect()
      .map(r => (r.getLong(0), r.isNullAt(1))).toMap
    assert(got == (1L to 5L).map(_ -> true).toMap)
  }

  test("v3 variant round-trip: a VariantType column exports as " +
      "`variant` and scans back value-identical through the " +
      "engine-free importer; a second append keeps the history " +
      "readable") {
    val mk = (lo: Long, hi: Long) => (lo to hi).toDF("id")
      .selectExpr("id",
        "parse_json(concat('{\"n\":', id, ',\"s\":\"x', id, '\"}')) AS v")
    val t = LakeTable.create(spark,
      TestSpark.tmpDir("iceimp-variant") + "/t", mk(1L, 1L).schema)
    t.append(mk(1L, 6L))
    val dest = TestSpark.tmpDir("iceimp-variant-out")
    val meta = IcebergExport.export(t, dest, formatVersion = 3)
    t.append(mk(7L, 9L))
    val meta2 = IcebergExport.publish(t, dest)
    val got = IcebergImport.scan(spark, meta2)
      .selectExpr("id", "variant_get(v, '$.n', 'long') AS n",
        "variant_get(v, '$.s', 'string') AS s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(got == (1L to 9L).map(i => (i, i, s"x$i")).toSet)
    // typed manifest round-trip: the declared type string is exactly
    // `variant`
    val metaTxt = LakeTable.readString(
      new org.apache.hadoop.fs.Path(meta2).getFileSystem(
        spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(meta2))
    assert("""\"type\"\s*:\s*\"variant\"""".r
      .findFirstIn(metaTxt).isDefined, "declared type must be variant")
  }
}
