package graft.lake

import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._

/** One-way EXPORT of a graft table's current snapshot as an
  * Iceberg-spec v2 table (https://iceberg.apache.org/spec/): a
  * `metadata/v1.metadata.json`, an Avro manifest LIST, one Avro
  * manifest of `manifest_entry` records, and a HadoopTables-style
  * `version-hint.text` — the interchange artifact that lets any
  * Iceberg-reading engine (Spark+iceberg-runtime, Trino, DuckDB's
  * iceberg extension, PyIceberg) scan data graft governs. Data files
  * are referenced by ABSOLUTE URI into the graft table's `data/` dir —
  * a zero-copy handoff; the export directory holds only metadata.
  *
  * Feasibility note (SURVEY §7.5): the Avro encoding — the offline
  * blocker candidate — is fully writable with the distribution's
  * `avro-1.12.1` core jar (hand-built schemas carrying the spec's
  * `field-id` attributes, `DataFileWriter` + deflate). What CANNOT be
  * done offline is a round-trip through a real Iceberg reader (no
  * iceberg jar in the environment), so IcebergExportSpec instead
  * re-reads the Avro with the same library and checks every
  * spec-required field, value consistency with the graft manifest, and
  * that the referenced parquet scans back row-identical.
  *
  * MOR snapshots export WITHOUT compaction: graft's accumulated
  * position-delete artifacts and deletion vectors re-encode as ONE
  * Iceberg v2 position-delete parquet — columns `file_path`
  * (field-id 2147483546) / `pos` (field-id 2147483545), field-ids
  * written into the parquet schema, rows sorted by (file_path, pos),
  * `file_path` values string-identical to the data manifest's
  * entries — referenced from a DELETES manifest (content=1) under an
  * unpartitioned spec. DVs expand back to explicit positions (v2 has
  * no vector encoding; v3's puffin blobs are out of scope). The
  * delete parquet is the one artifact the export WRITES beyond
  * metadata — data files remain a zero-copy absolute-URI handoff.
  *
  * EQUALITY deletes export as Iceberg v2 equality-delete files: each
  * graft artifact (already the typed key VALUES) rewrites one-to-one
  * with the table's field ids in the parquet schema and
  * `equality_ids` in its manifest entry. Sequence numbers export
  * FAITHFULLY from graft's per-file commit seqs, because the two
  * systems share the suppression rule exactly: an equality delete
  * hides data rows of STRICTLY smaller sequence (graft's era rule),
  * so a MERGE's same-commit after-image survives in both.
  *
  * Scope (refused loudly otherwise):
  *   - native `bucket(N, col)` partitioning is not exportable: graft's
  *     default bucket uses Spark's murmur3(seed 42), Iceberg its own —
  *     declaring `bucket[N]` would make an Iceberg reader bucket-prune
  *     with the WRONG hash; partition with `bucket_iceberg(N, col)`
  *     for handoff tables. Identity / day / month / year / truncate
  *     transforms agree value-for-value and export as themselves;
  *   - an equality delete whose key column was dropped from the
  *     current schema (no field id to declare) — compact first.
  */
object IcebergExport {

  /** Prior state of an already-exported table at `destDir`, parsed
    * from its current `vN.metadata.json` — what [[publish]] appends
    * to. `listUri` lets delta publishes carry the prior manifests
    * verbatim. */
  private final case class PriorMeta(version: Int, uuid: String,
      lastSeq: Long, lastUpdatedMs: Long, metaFileUri: String,
      currentSnapshotId: Long, graftSnapshotId: Option[Long],
      schemaFieldsJson: String, spec0Json: String, hadDeleteSpec: Boolean,
      listUri: String,
      snapshots: Seq[com.fasterxml.jackson.databind.JsonNode],
      snapshotLog: Seq[com.fasterxml.jackson.databind.JsonNode],
      metadataLog: Seq[com.fasterxml.jackson.databind.JsonNode],
      formatVersion: Int, nextRowId: Long)

  /** Export `table`'s current snapshot under `destDir`; returns the
    * absolute path of the written `v1.metadata.json`. `atSnapshot`
    * pins a RETAINED historical snapshot instead (a time-travel
    * handoff — publish an audited or pre-mutation state): its data
    * and delete artifacts remain on disk until expiry, so the export
    * is exactly the point-in-time table an Iceberg reader should
    * see.
    *
    * `formatVersion` 2 (default) writes the v2 shape; 3 writes a
    * spec-v3 tree whose MOR position deletes are PUFFIN DELETION
    * VECTORS (one `deletion-vector-v1` blob per referenced data file,
    * manifest entries carrying `referenced_data_file` +
    * `content_offset`/`content_size_in_bytes`) instead of a
    * position-delete parquet — the v3 handoff shape. A v3 export
    * requires position deletes already consolidated
    * (`consolidateDeleteVectors()`): the DV artifacts ARE the blobs.
    * Row-lineage counters (`next-row-id`, snapshot `first-row-id`)
    * are emitted monotonically across publishes. */
  def export(table: LakeTable, destDir: String,
      atSnapshot: Option[Long] = None, formatVersion: Int = 2): String =
    doExport(table, destDir, atSnapshot, prior = None, formatVersion)

  /** CONTINUOUS publish: append the table's current snapshot to an
    * ALREADY-EXPORTED Iceberg table at `destDir` as a new metadata
    * version — `v{N+1}.metadata.json` carrying the full published
    * snapshot history (an Iceberg reader time-travels across
    * publishes), version-hint bumped last so a reader never sees a
    * half-written version. A fresh directory degenerates to
    * [[export]]; re-publishing the already-current snapshot is an
    * idempotent no-op.
    *
    * Cost shape: when the change since the last publish is
    * APPEND-ONLY (no removed files, identical delete artifacts, same
    * schema/spec) the prior manifests are carried verbatim in the new
    * manifest list and only a DELTA manifest is written — O(new
    * files) work, the per-commit publish cadence a 100 TB mirror
    * needs. Anything else falls back to a full (still correct,
    * still data-zero-copy) manifest rewrite. Schema or partition-spec
    * drift since the last publish is REFUSED — the exported history's
    * field-ids are frozen at first export, and re-binding old
    * snapshots to a new schema would silently change what time-travel
    * reads return; export to a fresh directory instead. */
  def publish(table: LakeTable, destDir: String,
      atSnapshot: Option[Long] = None, formatVersion: Int = 2): String = {
    val conf = table.spark.sessionState.newHadoopConf()
    val fs = new Path(destDir).getFileSystem(conf)
    val hintP = new Path(destDir, "metadata/version-hint.text")
    if (!fs.exists(hintP))
      return doExport(table, destDir, atSnapshot, prior = None,
        formatVersion)
    val m = Snapshot.mapper
    val version = LakeTable.readString(fs, hintP).trim.toInt
    val metaP = new Path(destDir, s"metadata/v$version.metadata.json")
    val node = m.readTree(LakeTable.readString(fs, metaP))
    val snap = atSnapshot.map(table.snapshot).getOrElse(
      table.currentSnapshot.getOrElse(throw new IllegalStateException(
        "no committed snapshot to publish")))
    val published = node.path("snapshots").elements().asScala
      .map(_.path("snapshot-id").asLong()).toSet
    if (node.path("current-snapshot-id").asLong() == snap.snapshotId)
      return fs.makeQualified(metaP).toString // idempotent re-publish
    require(!published.contains(snap.snapshotId),
      s"snapshot ${snap.snapshotId} is already in the published " +
        "history but not current — republishing a rolled-back state " +
        "needs a fresh export directory")
    val curNode = node.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong() ==
        node.path("current-snapshot-id").asLong())
      .getOrElse(throw new IllegalStateException(
        s"$metaP has no current snapshot"))
    val specs = node.path("partition-specs").elements().asScala.toSeq
    val prior = PriorMeta(
      version = version,
      uuid = node.path("table-uuid").asText(),
      lastSeq = node.path("last-sequence-number").asLong(),
      lastUpdatedMs = node.path("last-updated-ms").asLong(),
      metaFileUri = fs.makeQualified(metaP).toString,
      currentSnapshotId = node.path("current-snapshot-id").asLong(),
      graftSnapshotId = Option(node.path("properties")
        .path("graft.snapshot-id").asText(null)).map(_.toLong),
      schemaFieldsJson = m.writeValueAsString(
        node.path("schemas").elements().asScala
          .find(_.path("schema-id").asInt() ==
            node.path("current-schema-id").asInt())
          .getOrElse(throw new IllegalStateException("no current schema"))
          .path("fields")),
      spec0Json = m.writeValueAsString(specs.head.path("fields")),
      hadDeleteSpec = specs.exists(s =>
        s.path("spec-id").asInt() == 1 &&
          !s.path("fields").elements().hasNext),
      listUri = curNode.path("manifest-list").asText(),
      snapshots = node.path("snapshots").elements().asScala.toSeq,
      snapshotLog = node.path("snapshot-log").elements().asScala.toSeq,
      metadataLog = node.path("metadata-log").elements().asScala.toSeq,
      formatVersion = node.path("format-version").asInt(2),
      nextRowId = node.path("next-row-id").asLong(0L))
    // a published history's format version is frozen at first export —
    // the prior manifests are carried verbatim under it
    doExport(table, destDir, atSnapshot, Some(prior),
      prior.formatVersion)
  }

  private def doExport(table: LakeTable, destDir: String,
      atSnapshot: Option[Long], prior: Option[PriorMeta],
      formatVersion: Int): String = {
    require(formatVersion == 2 || formatVersion == 3,
      s"format-version $formatVersion is not writable (2 and 3 are)")
    val snap = atSnapshot.map(table.snapshot).getOrElse(
      table.currentSnapshot.getOrElse(throw new IllegalStateException(
        "no committed snapshot to export")))
    val hasPosDeletes = DeleteArtifacts.positional(snap.deletes)
    // a v3 export encodes position deletes as puffin DVs — the
    // consolidated artifacts ARE the blobs; loose position deletes
    // would need the same fold first
    if (formatVersion == 3)
      require(snap.posDeleteFiles.isEmpty,
        s"snapshot ${snap.snapshotId} carries loose position-delete " +
          "artifacts — a v3 export encodes deletes as puffin deletion " +
          "vectors; consolidateDeleteVectors() first")
    val fields = PartitionSpec.parseAll(snap.partitionColumns)
    fields.foreach(f => require(
      !f.transform.isInstanceOf[PartitionSpec.Bucket],
      s"bucket transform ${f.spec} is not exportable: graft's native " +
        "bucket uses Spark's murmur3(seed 42), Iceberg its own — " +
        "partition with bucket_iceberg(N, col) for handoff tables"))
    // files written BEFORE a schema evolution (rename / add column) are
    // tracked in graft's name mapping — their PHYSICAL parquet columns
    // differ from the exported schema's names. graft data files carry
    // no Iceberg field-ids, so any Iceberg reader resolves them by
    // NAME and would read a renamed column as all-NULL (or, after a
    // drop + re-add, resurrect dead bytes) and an added column's
    // EXISTS_DEFAULT as NULL. Silent wrongness → refused loudly, same
    // policy as bucket transforms. compact() rewrites every file under
    // the current schema and clears the mapping.
    locally {
      val evolved = snap.liveFiles.filter(snap.entries(_).renames.nonEmpty)
      require(evolved.isEmpty,
        s"${evolved.size} live files predate a schema evolution " +
          "(rename/add column) and read through graft's name mapping, " +
          "which Iceberg readers cannot see — compact() before export. " +
          s"First: ${evolved.take(3).mkString(", ")}")
    }

    val spark = table.spark
    val fs = new Path(destDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val metaDir = new Path(destDir, "metadata")
    fs.mkdirs(metaDir)
    val tableFs = new Path(table.root).getFileSystem(
      spark.sessionState.newHadoopConf())
    def absUri(rel: String): String =
      tableFs.makeQualified(new Path(table.root, rel)).toString

    // ---- schema with Iceberg field ids (fresh assignment, unique)
    val sch = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    var nextId = 0
    def id(): Int = { nextId += 1; nextId }
    val m = Snapshot.mapper
    def typeNode(dt: DataType): Any = dt match {
      case LongType => "long"
      case IntegerType | ShortType | ByteType => "int"
      case DoubleType => "double"
      case FloatType => "float"
      case StringType => "string"
      case BooleanType => "boolean"
      case DateType => "date"
      case TimestampType => "timestamptz"
      case TimestampNTZType => "timestamp"
      case BinaryType => "binary"
      case VariantType =>
        // variant is a v3 type; a v2 tree declaring it would be
        // spec-invalid and refused by conforming readers
        require(formatVersion >= 3,
          "variant columns require format-version 3 — " +
            "export with formatVersion = 3")
        "variant"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case ArrayType(e, containsNull) =>
        val o = m.createObjectNode()
        o.put("type", "list")
        o.put("element-id", id())
        setType(o, "element", typeNode(e))
        o.put("element-required", !containsNull)
        o
      case StructType(fs0) =>
        val o = m.createObjectNode()
        o.put("type", "struct")
        val arr = o.putArray("fields")
        fs0.foreach { f =>
          val fo = arr.addObject()
          fo.put("id", id())
          fo.put("name", f.name)
          fo.put("required", !f.nullable)
          setType(fo, "type", typeNode(f.dataType))
        }
        o
      case MapType(k, v, valueContainsNull) =>
        val o = m.createObjectNode()
        o.put("type", "map")
        o.put("key-id", id())
        setType(o, "key", typeNode(k))
        o.put("value-id", id())
        setType(o, "value", typeNode(v))
        o.put("value-required", !valueContainsNull)
        o
      case other => throw new IllegalArgumentException(
        s"no Iceberg encoding for Spark type ${other.simpleString}")
    }
    def setType(o: ObjectNode, key: String, t: Any): Unit = t match {
      case s: String => o.put(key, s)
      case n: ObjectNode => o.set[ObjectNode](key, n)
    }
    val schemaNode = m.createObjectNode()
    schemaNode.put("type", "struct")
    schemaNode.put("schema-id", 0)
    val topIds = scala.collection.mutable.Map.empty[String, Int]
    locally {
      val arr = schemaNode.putArray("fields")
      sch.fields.foreach { f =>
        val fo = arr.addObject()
        val fid = id()
        topIds(f.name) = fid
        fo.put("id", fid)
        fo.put("name", f.name)
        fo.put("required", !f.nullable)
        setType(fo, "type", typeNode(f.dataType))
      }
    }
    val lastColumnId = nextId

    // ---- partition spec
    def transformName(t: PartitionSpec.Transform): String = t match {
      case PartitionSpec.Identity => "identity"
      case PartitionSpec.Day => "day"
      case PartitionSpec.Hour => "hour"
      case PartitionSpec.Month => "month"
      case PartitionSpec.Year => "year"
      case PartitionSpec.Truncate(w) => s"truncate[$w]"
      // bucket_iceberg hashes with the Iceberg-spec function, so the
      // declared transform prunes correctly on the reader's side
      case PartitionSpec.BucketIceberg(n) => s"bucket[$n]"
      case PartitionSpec.Bucket(n) => s"bucket[$n]" // refused above
    }
    val specNode = m.createObjectNode()
    specNode.put("spec-id", 0)
    val specFieldsArr = specNode.putArray("fields")
    fields.zipWithIndex.foreach { case (f, i) =>
      val fo = specFieldsArr.addObject()
      fo.put("name", f.dirName)
      fo.put("transform", transformName(f.transform))
      fo.put("source-id", topIds(f.source))
      fo.put("field-id", 1000 + i)
    }

    // ---- publish-over-prior guards + the append-only DELTA decision.
    // The exported history's field-ids are frozen at first export:
    // rebinding carried snapshots to a drifted schema or spec would
    // silently change what their time-travel reads return.
    prior.foreach { p =>
      require(p.schemaFieldsJson ==
          m.writeValueAsString(schemaNode.get("fields")),
        "schema changed since the last publish — the published " +
          "history's field-ids are frozen; export to a fresh directory")
      require(p.spec0Json == m.writeValueAsString(specNode.get("fields")),
        "partition spec changed since the last publish — export to a " +
          "fresh directory")
    }
    // Append-only since the last publish (no removed files, identical
    // delete artifacts — same schema/spec guaranteed above) ⇒ the
    // prior manifests stay valid verbatim: carry their manifest-list
    // records and write only a DELTA manifest. Needs the previously
    // published graft snapshot still retained to diff against.
    val prevSnap: Option[Snapshot] = prior
      .flatMap(_.graftSnapshotId)
      .flatMap(id => scala.util.Try(table.snapshot(id)).toOption)
      .filter { prev =>
        prev.liveFiles.toSet.subsetOf(snap.liveFiles.toSet) &&
          prev.deletes == snap.deletes
      }
    val deltaMode = prevSnap.nonEmpty
    val prevLive: Set[String] =
      prevSnap.map(_.liveFiles.toSet).getOrElse(Set.empty)
    val filesToWrite: Seq[String] =
      if (deltaMode) snap.liveFiles.filterNot(prevLive) else snap.liveFiles
    // carried prior manifests (delta mode): both data and delete lists
    val carriedRecords: Seq[GenericRecord] =
      if (deltaMode) {
        import org.apache.avro.generic.GenericDatumReader
        import org.apache.avro.mapred.FsInput
        val conf = table.spark.sessionState.newHadoopConf()
        val r = org.apache.avro.file.DataFileReader.openReader(
          new FsInput(new Path(prior.get.listUri), conf),
          new GenericDatumReader[GenericRecord]())
        try {
          val buf =
            scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
          while (r.hasNext) buf += r.next()
          buf.toSeq
        } finally r.close()
      } else Nil

    // ---- the manifest (Avro): one ADDED entry per live file.
    // Sequence numbers export FAITHFULLY from graft's per-file commit
    // seqs: equality deletes suppress strictly-smaller data sequences
    // in BOTH systems (graft's era rule ⟺ Iceberg's data_seq <
    // delete_seq — same-commit after-images survive), and position
    // deletes apply at data_seq ≤ delete_seq with paths pinning the
    // exact targets.
    val snapId = snap.snapshotId
    def seqOf(rel: String): Long = snap.entries(rel).seq
    def avroPartField(f: PartitionSpec.Field, i: Int): String = {
      val avroT = f.transform match {
        case PartitionSpec.Identity =>
          sch(f.source).dataType match {
            case LongType => "\"long\""
            case IntegerType | ShortType | ByteType | DateType => "\"int\""
            case DoubleType => "\"double\""
            case FloatType => "\"float\""
            case StringType => "\"string\""
            case BooleanType => "\"boolean\""
            case other => throw new IllegalArgumentException(
              s"identity partition over ${other.simpleString} " +
                "is not exportable")
          }
        // Iceberg defines truncate's result type as the SOURCE type
        // (int stays int) — emitting long for an int source would make
        // a spec-conformant reader fail partition-struct resolution or
        // misprune. Types without a tested encoding are refused loudly
        // (same policy as bucket).
        case PartitionSpec.Truncate(_) =>
          sch(f.source).dataType match {
            case StringType => "\"string\""
            case LongType => "\"long\""
            case IntegerType | ShortType | ByteType => "\"int\""
            case other => throw new IllegalArgumentException(
              s"truncate partition over ${other.simpleString} " +
                "is not exportable")
          }
        case _ => "\"int\"" // day/month/year ordinals
      }
      s"""{"name":"${f.dirName}","type":["null",$avroT],""" +
        s""""default":null,"field-id":${1000 + i}}"""
    }
    val partRecord =
      s"""{"type":"record","name":"r102","fields":[${
        fields.zipWithIndex.map { case (f, i) => avroPartField(f, i) }
          .mkString(",")}]}"""
    // per-file column statistics ride the spec's optional k_v-record
    // "map" fields (Avro maps need string keys, so Iceberg models
    // int-keyed maps as arrays of key/value records): value_counts /
    // null_value_counts from graft's row + __nulls__ manifests,
    // lower/upper_bounds as the spec's single-value binary
    // serialization of graft's per-file min/max — what lets a real
    // Iceberg reader min/max-prune the handoff exactly like graft does
    def kvMap(name: String, kId: Int, vId: Int, vType: String): String =
      s"""{"type":"array","items":{"type":"record","name":"$name",""" +
        s""""fields":[{"name":"key","type":"int","field-id":$kId},""" +
        s"""{"name":"value","type":"$vType","field-id":$vId}]},""" +
        s""""logicalType":"map"}"""
    val entrySchema = new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
         |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |{"name":"content","type":"int","field-id":134},
         |{"name":"file_path","type":"string","field-id":100},
         |{"name":"file_format","type":"string","field-id":101},
         |{"name":"partition","field-id":102,"type":$partRecord},
         |{"name":"record_count","type":"long","field-id":103},
         |{"name":"file_size_in_bytes","type":"long","field-id":104},
         |{"name":"value_counts","type":["null",${kvMap("k119_v120", 119, 120, "long")}],"default":null,"field-id":109},
         |{"name":"null_value_counts","type":["null",${kvMap("k121_v122", 121, 122, "long")}],"default":null,"field-id":110},
         |{"name":"lower_bounds","type":["null",${kvMap("k126_v127", 126, 127, "bytes")}],"default":null,"field-id":125},
         |{"name":"upper_bounds","type":["null",${kvMap("k129_v130", 129, 130, "bytes")}],"default":null,"field-id":128}${
           // v3 row lineage: the file's EXPLICIT first_row_id (spec
           // field-id 142) — written whenever graft tracks a lineage
           // block for the file, so importers resolve _row_id without
           // implementing snapshot/manifest inheritance
           if (formatVersion == 3)
             """,
         |{"name":"first_row_id","type":["null","long"],"default":null,"field-id":142}"""
           else ""}
         |]}}]}""".stripMargin)
    val partSchema = entrySchema.getField("data_file").schema()
      .getField("partition").schema()

    // partition VALUES parse from the hive dir segments of each path —
    // the same place graft's own read path recovers them from
    def partValue(f: PartitionSpec.Field, rel: String): AnyRef = {
      val seg = rel.split('/').find(_.startsWith(f.dirName + "="))
        .map(_.substring(f.dirName.length + 1))
        .getOrElse(return null)
      val raw = FileStats.unescapePathSegment(seg)
      if (raw == "__HIVE_DEFAULT_PARTITION__") return null
      f.transform match {
        case PartitionSpec.Identity => sch(f.source).dataType match {
          case LongType => java.lang.Long.valueOf(raw)
          case IntegerType | ShortType | ByteType =>
            java.lang.Integer.valueOf(raw)
          case DateType => java.lang.Integer.valueOf(
            java.time.LocalDate.parse(raw).toEpochDay.toInt)
          case DoubleType => java.lang.Double.valueOf(raw)
          case FloatType => java.lang.Float.valueOf(raw)
          case BooleanType => java.lang.Boolean.valueOf(raw)
          case _ => raw
        }
        case PartitionSpec.Truncate(_) => sch(f.source).dataType match {
          case StringType => raw
          case LongType => java.lang.Long.valueOf(raw)
          // source-typed per the Iceberg spec; other source types were
          // refused at schema-declaration time above
          case _ => java.lang.Integer.valueOf(raw)
        }
        case _ => java.lang.Integer.valueOf(raw)
      }
    }

    // graft stat-domain string → the spec's single-value binary form
    // for the SOURCE type (little-endian per the spec; strings UTF-8).
    // None = no tested encoding → the column's bound is simply omitted
    // (bounds are optional per column; readers keep the file).
    def boundBytes(dt: DataType, v: String)
        : Option[java.nio.ByteBuffer] = {
      import java.nio.{ByteBuffer, ByteOrder}
      def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
      dt match {
        case IntegerType | ShortType | ByteType | DateType =>
          Some(le(4).putInt(v.toLong.toInt).flip().asInstanceOf[ByteBuffer])
        case LongType | TimestampType | TimestampNTZType =>
          Some(le(8).putLong(v.toLong).flip().asInstanceOf[ByteBuffer])
        case BooleanType =>
          Some(ByteBuffer.wrap(Array((if (v.toLong == 0L) 0 else 1).toByte)))
        case FloatType =>
          Some(le(4).putFloat(v.toDouble.toFloat).flip()
            .asInstanceOf[ByteBuffer])
        case DoubleType =>
          Some(le(8).putDouble(v.toDouble).flip().asInstanceOf[ByteBuffer])
        case StringType => Some(ByteBuffer.wrap(
          v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        case _ => None
      }
    }
    def kvRecords(schemaField: Schema,
        entries: Seq[(Int, AnyRef)]): java.util.List[GenericRecord] = {
      // unwrap ["null", array] union → the array's element record type
      val arr = schemaField.getTypes.asScala
        .find(_.getType == Schema.Type.ARRAY).get
      val elem = arr.getElementType
      entries.sortBy(_._1).map { case (k, v) =>
        val r = new GenericData.Record(elem)
        r.put("key", Int.box(k))
        r.put("value", v)
        r: GenericRecord
      }.asJava
    }

    val manifestName = s"m-${UUID.randomUUID()}.avro"
    val manifestPath = new Path(metaDir, manifestName)
    var addedRows = 0L
    var existingRows = 0L
    var addedFiles = 0
    var existingFiles = 0
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.setMeta("schema", m.writeValueAsString(schemaNode))
      w.setMeta("partition-spec",
        m.writeValueAsString(specNode.get("fields")))
      w.setMeta("partition-spec-id", "0")
      w.setMeta("format-version", formatVersion.toString)
      w.setMeta("content", "data")
      val out = fs.create(manifestPath, true)
      w.create(entrySchema, out)
      filesToWrite.foreach { rel =>
        val info = snap.entries(rel).info
        // under a prior publish, files that predate it are EXISTING
        // (attributed to the previously published snapshot — the
        // standard conservative attribution when manifests rewrite);
        // files newer than it are ADDED by this snapshot
        val isExisting = prior.exists(p => seqOf(rel) <= p.lastSeq)
        val e = new GenericData.Record(entrySchema)
        e.put("status", Int.box(if (isExisting) 0 else 1))
        e.put("snapshot_id", Long.box(
          if (isExisting) prior.get.currentSnapshotId else snapId))
        if (isExisting) { existingFiles += 1; existingRows += info.rows }
        else { addedFiles += 1; addedRows += info.rows }
        e.put("sequence_number", Long.box(seqOf(rel)))
        e.put("file_sequence_number", Long.box(seqOf(rel)))
        val df = new GenericData.Record(
          entrySchema.getField("data_file").schema())
        df.put("content", Int.box(0)) // DATA
        df.put("file_path", absUri(rel))
        df.put("file_format", "PARQUET")
        val pr = new GenericData.Record(partSchema)
        fields.foreach(f => pr.put(f.dirName, partValue(f, rel)))
        df.put("partition", pr)
        df.put("record_count", Long.box(info.rows))
        df.put("file_size_in_bytes", Long.box(info.bytes))
        if (formatVersion == 3)
          info.firstRowId.foreach(r =>
            df.put("first_row_id", Long.box(r)))
        val stats = snap.entries(rel).stats
        if (stats.nonEmpty) {
          val dfSchema = entrySchema.getField("data_file").schema()
          val lower = Seq.newBuilder[(Int, AnyRef)]
          val upper = Seq.newBuilder[(Int, AnyRef)]
          val nulls = Seq.newBuilder[(Int, AnyRef)]
          val counts = Seq.newBuilder[(Int, AnyRef)]
          sch.fields.foreach { f =>
            topIds.get(f.name).foreach { fid =>
              stats.get(f.name).foreach { st =>
                for (lo <- boundBytes(f.dataType, st.min);
                     hi <- boundBytes(f.dataType, st.max)) {
                  lower += fid -> lo; upper += fid -> hi
                  // a column with attained bounds was fully profiled:
                  // its value count is the file's row count
                  counts += fid -> Long.box(info.rows)
                }
              }
              stats.get(FileStats.nullsKey(f.name)).foreach { st =>
                nulls += fid -> Long.box(st.min.toLong)
              }
            }
          }
          def putMap(field: String, b: Seq[(Int, AnyRef)]): Unit =
            if (b.nonEmpty) df.put(field,
              kvRecords(dfSchema.getField(field).schema(), b))
          putMap("lower_bounds", lower.result())
          putMap("upper_bounds", upper.result())
          putMap("null_value_counts", nulls.result())
          putMap("value_counts", counts.result())
        }
        e.put("data_file", df)
        w.append(e)
      }
      w.close()
    }
    val manifestLen = fs.getFileStatus(manifestPath).getLen

    // ---- position deletes (MOR handoff): re-encode graft's position
    // artifacts + expanded deletion vectors as ONE spec-conformant
    // position-delete parquet, then a DELETES manifest referencing it.
    // file_path values are built as rootUri + "/" + relative tail —
    // string-identical to the data manifest's absUri(rel) (same
    // qualified root, same separator), which Iceberg requires for
    // delete application.
    case class DeleteArtifact(uri: String, rows: Long, bytes: Long,
        seq: Long, equalityIds: Seq[Int] = Nil,
        format: String = "PARQUET",
        refDataFile: Option[String] = None,
        contentOffset: Option[Long] = None,
        contentSize: Option[Long] = None)
    val rootUri = tableFs.makeQualified(new Path(table.root)).toString
      .stripSuffix("/")
    // shared parquet-writing machinery for delete artifacts: field-ids
    // into the schema (Iceberg readers resolve delete columns BY ID),
    // one sorted file, renamed under destDir/deletes/
    def fid(n: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", n).build()
    def writeDeleteParquet(df: org.apache.spark.sql.DataFrame,
        prefix: String): (String, Long) = {
      val prevFieldIdConf =
        spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
      val staging = new Path(destDir, s".staging-${UUID.randomUUID()}")
      try {
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        df.write.parquet(staging.toString)
      } finally prevFieldIdConf match {
        case Some(v) =>
          spark.conf.set("spark.sql.parquet.fieldId.write.enabled", v)
        case None =>
          spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
      }
      val written = LakeTable.listParquet(fs, staging)
      require(written.size == 1, s"expected one delete file: $written")
      val delDir = new Path(destDir, "deletes")
      fs.mkdirs(delDir)
      val dest = new Path(delDir, s"$prefix-${UUID.randomUUID()}.parquet")
      if (!fs.rename(written.head, dest))
        throw new java.io.IOException(
          s"rename ${written.head} -> $dest failed")
      fs.delete(staging, true)
      (fs.makeQualified(dest).toString, fs.getFileStatus(dest).getLen)
    }
    // v3: consolidated DV artifacts → ONE puffin file, one
    // deletion-vector-v1 blob per referenced live data file; the
    // manifest entries pin each blob by referenced_data_file +
    // content_offset/content_size_in_bytes (record_count =
    // cardinality). Driver bytes ∝ deleted rows / 8 — the artifacts'
    // own planning class.
    val dvArtifacts: Seq[DeleteArtifact] =
      if (formatVersion != 3 || snap.dvFiles.isEmpty || deltaMode) Nil
      else {
        val liveSet = snap.liveFiles.toSet
        val byRel = DeleteArtifacts
          .dvPositionsByRel(spark, table.root, snap.dvFiles)
          .filter { case (rel, _) => liveSet(rel) }
        if (byRel.isEmpty) Nil
        else {
          val delDir = new Path(destDir, "deletes")
          fs.mkdirs(delDir)
          val pf = new Path(delDir, s"dv-${UUID.randomUUID()}.puffin")
          val rels = byRel.keys.toSeq.sorted
          val offs = Puffin.writeFile(fs, pf, rels.map { rel =>
            (Puffin.DvBlobType, Puffin.dvBlob(byRel(rel)),
              Map("referenced-data-file" -> absUri(rel),
                "cardinality" -> byRel(rel).length.toString))
          }, Map("created-by" -> "graft"))
          val puffinUri = fs.makeQualified(pf).toString
          val puffinLen = fs.getFileStatus(pf).getLen
          // positions pin exact paths — one seq covering every folded
          // artifact is faithful (same argument as the v2 encoding)
          val seq = snap.dvFiles.map(_.seq).max
          rels.zip(offs).map { case (rel, (off, blen)) =>
            DeleteArtifact(puffinUri, byRel(rel).length.toLong,
              puffinLen, seq, Nil, "PUFFIN", Some(absUri(rel)),
              Some(off), Some(blen))
          }
        }
      }
    val posArtifact: Option[DeleteArtifact] =
      if (!hasPosDeletes || deltaMode || formatVersion == 3) None
      else {
        import org.apache.spark.sql.functions._
        // only deletes against LIVE files travel — an entry for a file
        // a later rewrite removed would reference a path absent from
        // the data manifest. Broadcast bound: one ~100-byte relative
        // path per live file, so even a 10⁶-file table broadcasts
        // ~100 MB — two orders of magnitude under Spark's ceiling, and
        // the list already sits materialized on the driver (it IS the
        // manifest the export iterates).
        val live = spark.createDataFrame(
          spark.sparkContext.parallelize(
            snap.liveFiles.map(org.apache.spark.sql.Row(_)), 1),
          StructType(Seq(StructField("f", StringType, nullable = false))))
        val pairs = DeleteArtifacts.positions(spark, table.root,
            snap.deletes).get
          .join(broadcast(live), Seq("f"), "left_semi")
        val sorted = pairs
          .select(concat(lit(rootUri + "/"), col("f"))
              .as("file_path", fid(2147483546L)),
            col("p").as("pos", fid(2147483545L)))
          .repartition(1).sortWithinPartitions("file_path", "pos")
        val nDel = pairs.count()
        val (uri, bytes) = writeDeleteParquet(sorted, "pd")
        // positions pin exact paths, so one seq covering every folded
        // artifact is faithful: files added after the last contributing
        // delete commit carry LARGER seqs and are untargeted anyway
        val seq = (snap.posDeleteFiles.map(_.seq) ++
          snap.dvFiles.map(_.seq)).max
        Some(DeleteArtifact(uri, nDel, bytes, seq))
      }
    // equality-delete artifacts re-encode one-to-one (their COMMIT seq
    // is load-bearing: Iceberg suppresses data rows with STRICTLY
    // smaller sequence — the exact era rule graft applies, so
    // same-commit MERGE after-images survive in both systems). The
    // delete parquet carries the key VALUES under the table's field
    // ids; `equality_ids` in the manifest names those ids.
    val eqArtifacts: Seq[DeleteArtifact] =
      (if (deltaMode) Nil else snap.deleteFiles).map { d =>
      import org.apache.spark.sql.functions.col
      d.keys.foreach(k => require(topIds.contains(k),
        s"equality delete on $k, which the current schema lacks — " +
          "compact() before export"))
      val src = spark.read.parquet(
        new Path(table.root, d.path).toString)
      val renamed = src.select(d.physicalKeys.zip(d.keys).map {
        case (p, k) => col(p).as(k, fid(topIds(k).toLong))
      }.toIndexedSeq: _*)
        .repartition(1).sortWithinPartitions(d.keys.map(col): _*)
      val nDel = src.count()
      val (uri, bytes) = writeDeleteParquet(renamed, "eq")
      DeleteArtifact(uri, nDel, bytes, d.seq,
        d.keys.map(topIds(_)))
    }
    val deleteArtifacts = posArtifact.toSeq ++ dvArtifacts ++ eqArtifacts
    // delete files spanning partitions are written under an
    // UNPARTITIONED spec (the spec allows per-manifest spec ids); a
    // table already unpartitioned reuses spec 0
    val delSpecId = if (fields.isEmpty) 0 else 1
    val delManifest: Option[(Path, Long)] =
      if (deleteArtifacts.isEmpty) None
      else Some {
        // v3 deletion-vector entry fields (spec field-ids 143–145)
        val v3DeleteFields =
          if (formatVersion != 3) ""
          else """,
            |{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
            |{"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
            |{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}"""
            .stripMargin
        val delEntrySchema = new Schema.Parser().parse(
          s"""{"type":"record","name":"manifest_entry","fields":[
             |{"name":"status","type":"int","field-id":0},
             |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
             |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
             |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
             |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
             |{"name":"content","type":"int","field-id":134},
             |{"name":"file_path","type":"string","field-id":100},
             |{"name":"file_format","type":"string","field-id":101},
             |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102d","fields":[]}},
             |{"name":"record_count","type":"long","field-id":103},
             |{"name":"file_size_in_bytes","type":"long","field-id":104},
             |{"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}$v3DeleteFields
             |]}}]}""".stripMargin)
        val p = new Path(metaDir, s"m-${UUID.randomUUID()}.avro")
        val w = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](delEntrySchema))
        w.setMeta("schema", m.writeValueAsString(schemaNode))
        w.setMeta("partition-spec", "[]")
        w.setMeta("partition-spec-id", delSpecId.toString)
        w.setMeta("format-version", formatVersion.toString)
        w.setMeta("content", "deletes")
        val out = fs.create(p, true)
        w.create(delEntrySchema, out)
        deleteArtifacts.foreach { da =>
          val e = new GenericData.Record(delEntrySchema)
          e.put("status", Int.box(1)) // ADDED
          e.put("snapshot_id", Long.box(snapId))
          e.put("sequence_number", Long.box(da.seq))
          e.put("file_sequence_number", Long.box(da.seq))
          val df = new GenericData.Record(
            delEntrySchema.getField("data_file").schema())
          // 1 = POSITION_DELETES (incl. v3 puffin DVs), 2 = EQUALITY
          df.put("content", Int.box(if (da.equalityIds.isEmpty) 1 else 2))
          df.put("file_path", da.uri)
          df.put("file_format", da.format)
          da.refDataFile.foreach(v =>
            df.put("referenced_data_file", v))
          da.contentOffset.foreach(v =>
            df.put("content_offset", Long.box(v)))
          da.contentSize.foreach(v =>
            df.put("content_size_in_bytes", Long.box(v)))
          df.put("partition", new GenericData.Record(delEntrySchema
            .getField("data_file").schema().getField("partition").schema()))
          df.put("record_count", Long.box(da.rows))
          df.put("file_size_in_bytes", Long.box(da.bytes))
          if (da.equalityIds.nonEmpty)
            df.put("equality_ids",
              java.util.Arrays.asList(da.equalityIds.map(Int.box): _*))
          e.put("data_file", df)
          w.append(e)
        }
        w.close()
        (p, fs.getFileStatus(p).getLen)
      }

    // ---- the manifest LIST (Avro)
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string","field-id":500},
        |{"name":"manifest_length","type":"long","field-id":501},
        |{"name":"partition_spec_id","type":"int","field-id":502},
        |{"name":"content","type":"int","field-id":517},
        |{"name":"sequence_number","type":"long","field-id":515},
        |{"name":"min_sequence_number","type":"long","field-id":516},
        |{"name":"added_snapshot_id","type":"long","field-id":503},
        |{"name":"added_files_count","type":"int","field-id":504},
        |{"name":"existing_files_count","type":"int","field-id":505},
        |{"name":"deleted_files_count","type":"int","field-id":506},
        |{"name":"added_rows_count","type":"long","field-id":512},
        |{"name":"existing_rows_count","type":"long","field-id":513},
        |{"name":"deleted_rows_count","type":"long","field-id":514}
        |]}""".stripMargin)
    val listName = s"snap-$snapId-${UUID.randomUUID()}.avro"
    val listPath = new Path(metaDir, listName)
    val dataSeqs = snap.liveFiles.map(seqOf)
    val writtenSeqs = filesToWrite.map(seqOf)
    val delSeqs = deleteArtifacts.map(_.seq)
    val lastSeq = (dataSeqs ++ delSeqs ++
      prior.map(_.lastSeq).toSeq ++ Seq(1L)).max
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      w.setMeta("format-version", formatVersion.toString)
      val out = fs.create(listPath, true)
      w.create(listSchema, out)
      // delta publish: the prior manifests come first, verbatim —
      // their data files, delete artifacts, and sequences are
      // unchanged by an append-only delta (guarded above)
      carriedRecords.foreach { cr =>
        val c = new GenericData.Record(listSchema)
        listSchema.getFields.asScala.foreach(f =>
          c.put(f.name(), cr.get(f.name())))
        w.append(c)
      }
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", fs.makeQualified(manifestPath).toString)
      r.put("manifest_length", Long.box(manifestLen))
      r.put("partition_spec_id", Int.box(0))
      r.put("content", Int.box(0)) // data manifest
      r.put("sequence_number",
        Long.box(if (writtenSeqs.isEmpty) 1L else writtenSeqs.max))
      r.put("min_sequence_number",
        Long.box(if (writtenSeqs.isEmpty) 1L else writtenSeqs.min))
      r.put("added_snapshot_id", Long.box(snapId))
      r.put("added_files_count", Int.box(addedFiles))
      r.put("existing_files_count", Int.box(existingFiles))
      r.put("deleted_files_count", Int.box(0))
      r.put("added_rows_count", Long.box(addedRows))
      r.put("existing_rows_count", Long.box(existingRows))
      r.put("deleted_rows_count", Long.box(0L))
      w.append(r)
      delManifest.foreach { case (p, len) =>
        val d = new GenericData.Record(listSchema)
        d.put("manifest_path", fs.makeQualified(p).toString)
        d.put("manifest_length", Long.box(len))
        d.put("partition_spec_id", Int.box(delSpecId))
        d.put("content", Int.box(1)) // DELETES manifest
        d.put("sequence_number", Long.box(delSeqs.max))
        d.put("min_sequence_number", Long.box(delSeqs.min))
        d.put("added_snapshot_id", Long.box(snapId))
        d.put("added_files_count", Int.box(deleteArtifacts.size))
        d.put("existing_files_count", Int.box(0))
        d.put("deleted_files_count", Int.box(0))
        d.put("added_rows_count",
          Long.box(deleteArtifacts.map(_.rows).sum))
        d.put("existing_rows_count", Long.box(0L))
        d.put("deleted_rows_count", Long.box(0L))
        w.append(d)
      }
      w.close()
    }

    // ---- v{N}.metadata.json + HadoopTables version hint
    val version = prior.map(_.version + 1).getOrElse(1)
    val root = m.createObjectNode()
    root.put("format-version", formatVersion)
    // the uuid is the table's published identity — stable across
    // publishes so readers see one table gaining snapshots
    root.put("table-uuid",
      prior.map(_.uuid).getOrElse(UUID.randomUUID().toString))
    root.put("location", fs.makeQualified(new Path(destDir)).toString)
    root.put("last-sequence-number", lastSeq)
    root.put("last-updated-ms", snap.timestampMs)
    root.put("last-column-id", lastColumnId)
    root.put("current-schema-id", 0)
    root.putArray("schemas").add(schemaNode)
    root.put("default-spec-id", 0)
    val specsArr = root.putArray("partition-specs")
    specsArr.add(specNode)
    // the unpartitioned spec delete files of a partitioned table are
    // written under (registered when used NOW or by any carried
    // delete manifest from a prior publish)
    if ((delManifest.nonEmpty && delSpecId == 1) ||
        prior.exists(_.hadDeleteSpec)) {
      val unpart = m.createObjectNode()
      unpart.put("spec-id", 1)
      unpart.putArray("fields")
      specsArr.add(unpart)
    }
    root.put("last-partition-id",
      if (fields.isEmpty) 999 else 999 + fields.size)
    root.put("default-sort-order-id", 0)
    val so = root.putArray("sort-orders").addObject()
    so.put("order-id", 0)
    so.putArray("fields")
    val props = root.putObject("properties")
    props.put("write.format.default", "parquet")
    props.put("exported-by", "graft")
    props.put("graft.snapshot-id", snapId.toString)
    root.put("current-snapshot-id", snapId)
    val snapsArr = root.putArray("snapshots")
    prior.foreach(_.snapshots.foreach(n => snapsArr.add(n)))
    val sn = snapsArr.addObject()
    sn.put("snapshot-id", snapId)
    prior.flatMap(_.snapshots.lastOption)
      .map(_.path("snapshot-id").asLong())
      .foreach(sn.put("parent-snapshot-id", _))
    sn.put("sequence-number", lastSeq)
    sn.put("timestamp-ms", snap.timestampMs)
    sn.put("manifest-list", fs.makeQualified(listPath).toString)
    sn.put("schema-id", 0)
    // v3 row lineage: monotone id-range accounting across publishes —
    // this snapshot's new rows get [first-row-id, first-row-id +
    // added), and next-row-id advances past them
    if (formatVersion == 3) {
      val firstRowId = prior.map(_.nextRowId).getOrElse(0L)
      sn.put("first-row-id", firstRowId)
      root.put("next-row-id", firstRowId + addedRows)
    }
    val sm = sn.putObject("summary")
    // a snapshot carrying NEW delete files alongside its data is an
    // overwrite in Iceberg's operation taxonomy
    sm.put("operation",
      if (deleteArtifacts.isEmpty) "append" else "overwrite")
    sm.put("added-data-files", addedFiles.toString)
    sm.put("added-records", addedRows.toString)
    sm.put("total-data-files", snap.liveFiles.size.toString)
    if (deleteArtifacts.nonEmpty) {
      sm.put("added-delete-files", deleteArtifacts.size.toString)
      posArtifact.foreach(da =>
        sm.put("added-position-deletes", da.rows.toString))
      if (eqArtifacts.nonEmpty)
        sm.put("added-equality-deletes",
          eqArtifacts.map(_.rows).sum.toString)
    }
    val logArr = root.putArray("snapshot-log")
    prior.foreach(_.snapshotLog.foreach(n => logArr.add(n)))
    val log = logArr.addObject()
    log.put("timestamp-ms", snap.timestampMs)
    log.put("snapshot-id", snapId)
    val mlArr = root.putArray("metadata-log")
    prior.foreach { p =>
      p.metadataLog.foreach(n => mlArr.add(n))
      val e = mlArr.addObject()
      e.put("timestamp-ms", p.lastUpdatedMs)
      e.put("metadata-file", p.metaFileUri)
    }
    val metaJsonPath = new Path(metaDir, s"v$version.metadata.json")
    def write(p: Path, s: String): Unit = {
      val out = fs.create(p, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    write(metaJsonPath,
      m.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    // the version hint flips LAST — a reader racing a publish resolves
    // to the previous, complete version
    write(new Path(metaDir, "version-hint.text"), version.toString)
    fs.makeQualified(metaJsonPath).toString
  }

  /** Read an exported table's data-file entries back — metadata.json →
    * manifest list → manifest, with the same avro library that wrote
    * them: `(file_path, record_count, partition values as
    * name → string)` per data file. The verification half of the
    * handoff (no Iceberg jar exists offline to read with), also what
    * q_iceberg_export answers its oracle from. */
  def readEntries(metadataJsonPath: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Seq[(String, Long, Map[String, String], Long)] = {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.GenericDatumReader
    import org.apache.avro.mapred.FsInput
    val m = Snapshot.mapper
    val metaP = new Path(metadataJsonPath)
    val fs = metaP.getFileSystem(conf)
    val meta = m.readTree(LakeTable.readString(fs, metaP))
    val listUri = meta.path("snapshots").elements().asScala.toSeq
      .find(_.path("snapshot-id").asLong() ==
        meta.path("current-snapshot-id").asLong())
      .getOrElse(throw new IllegalStateException("no current snapshot"))
      .path("manifest-list").asText()
    def records(uri: String): Seq[GenericRecord] = {
      val r = DataFileReader.openReader(
        new FsInput(new Path(uri), conf),
        new GenericDatumReader[GenericRecord]())
      try {
        val buf = scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
        while (r.hasNext) buf += r.next()
        buf.toSeq
      } finally r.close()
    }
    records(listUri)
      .filter(_.get("content").asInstanceOf[Int] == 0) // data manifests
      .flatMap { mf =>
        records(mf.get("manifest_path").toString).map { e =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val pr = df.get("partition").asInstanceOf[GenericRecord]
          val parts = pr.getSchema.getFields.asScala.map(f =>
            f.name() -> Option(pr.get(f.name())).map(_.toString).orNull)
            .toMap
          (df.get("file_path").toString,
            df.get("record_count").asInstanceOf[Long], parts,
            e.get("sequence_number").asInstanceOf[Long])
        }
      }
  }

  /** The POSITION-delete files of an exported MOR snapshot —
    * metadata.json → manifest list → DELETES manifests (content=1) →
    * entries with `data_file.content = 1`:
    * `(file_path, record_count)` per delete parquet. Pair with
    * [[readEntries]] to reconstruct the live row set engine-free. */
  def readDeleteEntries(metadataJsonPath: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Seq[(String, Long)] = {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.GenericDatumReader
    import org.apache.avro.mapred.FsInput
    val m = Snapshot.mapper
    val metaP = new Path(metadataJsonPath)
    val fs = metaP.getFileSystem(conf)
    val meta = m.readTree(LakeTable.readString(fs, metaP))
    val listUri = meta.path("snapshots").elements().asScala.toSeq
      .find(_.path("snapshot-id").asLong() ==
        meta.path("current-snapshot-id").asLong())
      .getOrElse(throw new IllegalStateException("no current snapshot"))
      .path("manifest-list").asText()
    def records(uri: String): Seq[GenericRecord] = {
      val r = DataFileReader.openReader(
        new FsInput(new Path(uri), conf),
        new GenericDatumReader[GenericRecord]())
      try {
        val buf = scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
        while (r.hasNext) buf += r.next()
        buf.toSeq
      } finally r.close()
    }
    records(listUri)
      .filter(_.get("content").asInstanceOf[Int] == 1)
      .flatMap { mf =>
        records(mf.get("manifest_path").toString)
          .filter(_.get("data_file").asInstanceOf[GenericRecord]
            .get("content").asInstanceOf[Int] == 1)
          .map { e =>
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            (df.get("file_path").toString,
              df.get("record_count").asInstanceOf[Long])
          }
      }
  }

  /** The EQUALITY-delete files of an exported MOR snapshot — entries
    * with `data_file.content = 2`: `(file_path, record_count,
    * sequence_number, equality field-ids)` per delete parquet. The
    * sequence number is load-bearing: rows of data files with STRICTLY
    * smaller sequence are suppressed when their key values match. */
  def readEqualityDeleteEntries(metadataJsonPath: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Seq[(String, Long, Long, Seq[Int])] = {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.GenericDatumReader
    import org.apache.avro.mapred.FsInput
    val m = Snapshot.mapper
    val metaP = new Path(metadataJsonPath)
    val fs = metaP.getFileSystem(conf)
    val meta = m.readTree(LakeTable.readString(fs, metaP))
    val listUri = meta.path("snapshots").elements().asScala.toSeq
      .find(_.path("snapshot-id").asLong() ==
        meta.path("current-snapshot-id").asLong())
      .getOrElse(throw new IllegalStateException("no current snapshot"))
      .path("manifest-list").asText()
    def records(uri: String): Seq[GenericRecord] = {
      val r = DataFileReader.openReader(
        new FsInput(new Path(uri), conf),
        new GenericDatumReader[GenericRecord]())
      try {
        val buf = scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
        while (r.hasNext) buf += r.next()
        buf.toSeq
      } finally r.close()
    }
    records(listUri)
      .filter(_.get("content").asInstanceOf[Int] == 1)
      .flatMap { mf =>
        records(mf.get("manifest_path").toString)
          .filter(_.get("data_file").asInstanceOf[GenericRecord]
            .get("content").asInstanceOf[Int] == 2)
          .map { e =>
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            val ids = df.get("equality_ids")
              .asInstanceOf[java.util.List[Integer]]
              .asScala.map(_.intValue()).toSeq
            (df.get("file_path").toString,
              df.get("record_count").asInstanceOf[Long],
              e.get("sequence_number").asInstanceOf[Long], ids)
          }
      }
  }
}
