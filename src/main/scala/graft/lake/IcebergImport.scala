package graft.lake

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.avro.generic.GenericRecord
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftlake.EntryFileIndex
import org.apache.spark.sql.graftlake.EntryFileIndex.{canonUri, normUri,
  normUriCol}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Engine-free READ of an Iceberg v2 table from its published
  * metadata (https://iceberg.apache.org/spec/) — the inverse half of
  * [[IcebergExport]] and the other direction of the handoff: an
  * Iceberg table any engine wrote (HadoopTables layout: a
  * `metadata.json` + Avro manifest list + manifests) scans back as a
  * plain Spark DataFrame with the spec's full MOR semantics applied:
  *
  *   - schema from the metadata's current schema (Iceberg JSON types →
  *     Spark types, nested struct/list/map included);
  *   - the file list from the manifests, status-aware (`DELETED`
  *     entries skipped, `ADDED`/`EXISTING` live) and content-split
  *     (data vs deletes manifests);
  *   - IDENTITY partition values from each entry's `partition` record
  *     (resolved through the manifest's own `partition-spec` metadata,
  *     so multi-spec tables read correctly) — spec-true: identity
  *     columns live in metadata, not necessarily in the data files;
  *   - POSITION deletes anti-joined on (file, pos) over Spark's
  *     `_metadata.file_path` / `_metadata.row_index`;
  *   - EQUALITY deletes applied sequence-aware: a delete row hides
  *     data rows of STRICTLY smaller data sequence whose key values
  *     match (nulls equal, per the spec) — same-commit after-images
  *     survive, exactly graft's own era rule.
  *
  * This is also the strongest export verification the offline
  * environment admits: a round-trip (graft table → export_iceberg →
  * this reader) exercises every exported field through an INDEPENDENT
  * general-purpose code path — not the export's own hand-rolled
  * re-readers — and must land hash-identical to the governed scan
  * (q_iceberg_roundtrip pins this against the DuckDB oracle).
  *
  * Column resolution is BY NAME (graft exports preserve names
  * end-to-end; a foreign table whose data files were written with
  * field-id-only renames would need id-based resolution, which Spark's
  * `parquet.fieldId.read.enabled` provides at session scope — out of
  * scope here and refused implicitly by the name match).
  *
  * Scale: manifests are read driver-side (the same O(files) metadata
  * pass every Iceberg planner makes); data and delete files scan
  * distributed. The data scan plans through
  * [[org.apache.spark.sql.graftlake.EntryFileIndex]], the index Delta
  * scans use: file sizes come from the manifest (no listing), per-file
  * facts (data sequence, `first_row_id`, identity values) ride each
  * file's partition row (no join), and filters pushed into the scan
  * prune files on the manifest's decoded bounds.
  */
object IcebergImport {

  /** One live data file: absolute URI, rows, the manifest's
    * `file_size_in_bytes`, data sequence, the
    * IDENTITY partition values for the spec it was written under
    * (top-level column name → raw avro value), and its column bounds
    * decoded into graft's stat domain (column name → [[ColStat]],
    * plus `__nulls__<col>` point-stats from null_value_counts) — the
    * form [[PredicatePruning]] consumes directly. */
  final case class DataEntry(uri: String, rows: Long, size: Long,
      seq: Long,
      identity: Map[String, AnyRef],
      stats: Map[String, ColStat] = Map.empty,
      /** `bucket[N]` partition values: (source column, N, bucket id) —
        * pruned by set-membership against equality/IN literals using
        * the iceberg-spec hash (range reasoning is unsound for a
        * hash). */
      buckets: Seq[(String, Int, Long)] = Nil,
      /** v3 row lineage: the file's explicit `first_row_id` (spec
        * field-id 142) — row N of the file has
        * `_row_id = firstRowId + N`. */
      firstRowId: Option[Long] = None)

  /** One delete artifact: content 1 = position deletes (parquet
    * (file_path, pos) rows, or — format-version 3 — a puffin
    * DELETION-VECTOR blob pinned by `referencedDataFile` +
    * `contentOffset`/`contentSize`), 2 = equality deletes (with the
    * key field-ids). */
  final case class DeleteEntry(uri: String, rows: Long, seq: Long,
      content: Int, equalityIds: Seq[Int],
      format: String = "parquet",
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSize: Option[Long] = None)

  final case class TableMeta(schema: StructType,
      topIdToName: Map[Int, String],
      dataEntries: Seq[DataEntry], deleteEntries: Seq[DeleteEntry],
      snapshotId: Long,
      /** v3 `initial-default`s of the read schema's REQUIRED fields
        * (column → Spark literal value): pre-evolution files read the
        * column as NULL, which the scan coalesces to the default. */
      defaults: Seq[(String, Any)] = Nil)

  // ------------------------------------------------------------ metadata

  /** Iceberg schema JSON → Spark type. Inverse of
    * [[IcebergExport]]'s typeNode, covering the spec's primitive set
    * plus struct/list/map. */
  private def sparkType(t: JsonNode): DataType =
    if (t.isTextual) t.asText() match {
      case "long" => LongType
      case "int" => IntegerType
      case "double" => DoubleType
      case "float" => FloatType
      case "string" => StringType
      case "boolean" => BooleanType
      case "date" => DateType
      case "timestamptz" => TimestampType
      case "timestamp" => TimestampNTZType
      case "binary" => BinaryType
      // uuid is parquet fixed_len_byte_array(16) + UUID annotation —
      // Spark has no uuid type and FAILS a StringType read against it
      // (measured: PARQUET_COLUMN_DATA_TYPE_MISMATCH); BinaryType
      // reads the 16 bytes exactly, so that is the faithful mapping
      case "uuid" => BinaryType
      // v3 semi-structured values store as the Parquet Variant
      // metadata+value group — exactly Spark 4's native VariantType
      // encoding, so the read is byte-exact (load() gates declared v3
      // types against the table's format-version)
      case "variant" => VariantType
      // v3 `unknown`: a column whose type was never resolved — always
      // null, possibly absent from every data file. NullType in the
      // read schema yields exactly that (measured: missing parquet
      // columns read as typed nulls).
      case "unknown" => NullType
      case s if s.startsWith("decimal(") =>
        val Array(p, sc) = s.stripPrefix("decimal(").stripSuffix(")")
          .split(',').map(_.trim.toInt)
        DecimalType(p, sc)
      case s if s.startsWith("fixed[") => BinaryType
      case s @ ("timestamp_ns" | "timestamptz_ns") =>
        throw new IllegalArgumentException(
          s"Iceberg type $s stores NANOSECOND precision; Spark " +
            "timestamps are microseconds, so a read would silently " +
            "truncate every value — refusing (export the column as " +
            "long nanos for a lossless handoff)")
      case s if s.startsWith("geometry") || s.startsWith("geography") =>
        throw new IllegalArgumentException(
          s"Iceberg type $s has no Spark type and no tested WKB " +
            "round-trip in this reader — refusing rather than " +
            "returning bytes whose semantics (CRS, edge " +
            "interpolation) would be silently dropped")
      case other => throw new IllegalArgumentException(
        s"no Spark type for Iceberg primitive $other")
    } else t.path("type").asText() match {
      case "struct" => StructType(
        t.path("fields").elements().asScala.map { f =>
          StructField(f.path("name").asText(), sparkType(f.path("type")),
            !f.path("required").asBoolean())
        }.toArray)
      case "list" => ArrayType(sparkType(t.path("element")),
        !t.path("element-required").asBoolean())
      case "map" => MapType(sparkType(t.path("key")),
        sparkType(t.path("value")),
        !t.path("value-required").asBoolean())
      case other => throw new IllegalArgumentException(
        s"no Spark type for Iceberg type $other")
    }

  private def records(uri: String, conf: Configuration)
      : Seq[GenericRecord] = {
    import org.apache.avro.generic.GenericDatumReader
    import org.apache.avro.mapred.FsInput
    val r = org.apache.avro.file.DataFileReader.openReader(
      new FsInput(new Path(uri), conf),
      new GenericDatumReader[GenericRecord]())
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
      while (r.hasNext) buf += r.next()
      buf.toSeq
    } finally r.close()
  }

  private def avroMeta(uri: String, conf: Configuration, key: String)
      : Option[String] = {
    import org.apache.avro.generic.GenericDatumReader
    import org.apache.avro.mapred.FsInput
    val r = new org.apache.avro.file.DataFileReader[GenericRecord](
      new FsInput(new Path(uri), conf),
      new GenericDatumReader[GenericRecord]())
    try Option(r.getMetaString(key)) finally r.close()
  }

  /** Parse the table's metadata.json + manifests into a planning view.
    * `atSnapshot` reads a retained historical snapshot (time travel);
    * default is `current-snapshot-id`. */
  def load(metadataJsonPath: String, conf: Configuration,
      atSnapshot: Option[Long] = None): TableMeta = {
    val m = Snapshot.mapper
    val metaP = new Path(metadataJsonPath)
    val fs = metaP.getFileSystem(conf)
    val meta = m.readTree(LakeTable.readString(fs, metaP))
    // FORMAT-VERSION GATE: v2 reads fully; v3 reads with puffin
    // deletion vectors (below) after proving the v3-only semantics
    // this reader does NOT implement are absent — every other version
    // (v1's `manifests` layout, any future v4+) changes what the
    // metadata or data bytes MEAN and is refused loudly rather than
    // read wrong (the same hazard class as DeltaImport's
    // reader-feature gate).
    val formatVersion = meta.path("format-version").asInt(1)
    require(formatVersion == 2 || formatVersion == 3,
      s"$metadataJsonPath: format-version $formatVersion is not " +
        "readable (v2 and v3 are) — refusing rather than mis-reading")
    // v3 DEFAULT VALUES are handled at schema parse below: a
    // REQUIRED top-level field's `initial-default` applies exactly
    // via coalesce (required ⇒ no legitimate stored NULL anywhere, so
    // only pre-evolution files — which read the column as NULL —
    // take the default). Optional-with-default and NESTED defaults
    // still refuse: distinguishing a genuine stored NULL from a
    // missing column needs per-file footer attribution this reader
    // does not do, and a coalesce would clobber real NULLs.
    val snapId = atSnapshot.getOrElse(
      meta.path("current-snapshot-id").asLong())
    val snapNode = meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong() == snapId)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapId not found in $metadataJsonPath"))
    // current schema: v2 `schemas` array keyed by schema-id (prefer the
    // snapshot's own schema-id when present), v1 fallback `schema`
    val schemaId =
      if (snapNode.has("schema-id")) snapNode.path("schema-id").asInt()
      else meta.path("current-schema-id").asInt()
    val schemaNode = meta.path("schemas").elements().asScala
      .find(_.path("schema-id").asInt() == schemaId)
      .orElse(Option(meta.path("schema")).filter(_.isObject))
      .getOrElse(throw new IllegalArgumentException(
        s"schema $schemaId not found in $metadataJsonPath"))
    val fields = schemaNode.path("fields").elements().asScala.toSeq
    val schema = StructType(fields.map { f =>
      StructField(f.path("name").asText(), sparkType(f.path("type")),
        !f.path("required").asBoolean())
    }.toArray)
    // v3-only types in pre-v3 metadata are spec-invalid — a writer
    // that emitted them cannot be trusted about what the data files
    // hold; and a REQUIRED unknown column is a contradiction (unknown
    // is always-null, the spec pins it optional)
    locally {
      def v3Only(dt: DataType): Boolean = dt match {
        case VariantType | NullType => true
        case s: StructType => s.fields.exists(f => v3Only(f.dataType))
        case ArrayType(e, _) => v3Only(e)
        case MapType(k, v, _) => v3Only(k) || v3Only(v)
        case _ => false
      }
      val bad = schema.fields.filter(f => v3Only(f.dataType))
      require(formatVersion >= 3 || bad.isEmpty,
        s"$metadataJsonPath: format-version $formatVersion metadata " +
          s"declares v3-only types (${bad.map(_.name).mkString(", ")}" +
          ") — spec-invalid; refusing rather than guessing what the " +
          "files hold")
      val reqUnknown = schema.fields
        .filter(f => f.dataType == NullType && !f.nullable)
      require(reqUnknown.isEmpty,
        s"$metadataJsonPath: REQUIRED column(s) of type unknown " +
          s"(${reqUnknown.map(_.name).mkString(", ")}) — unknown is " +
          "always-null and the spec pins it optional; spec-invalid " +
          "metadata refused")
    }
    // v3 initial-defaults on the schema BEING READ (see the gate note
    // above): required + primitive applies, everything else refuses
    def nestedHasDefault(n: JsonNode): Boolean =
      n.path("fields").elements().asScala.exists { f =>
        f.hasNonNull("initial-default") ||
          (f.path("type").isObject && (nestedHasDefault(f.path("type")) ||
            Seq("element", "key", "value").exists(k =>
              f.path("type").path(k).isObject &&
                nestedHasDefault(f.path("type").path(k)))))
      }
    val defaults = fields.flatMap { f =>
      val name = f.path("name").asText()
      require(!f.path("type").isObject ||
          (!nestedHasDefault(f.path("type")) &&
            Seq("element", "key", "value").forall(k =>
              !f.path("type").path(k).isObject ||
                !nestedHasDefault(f.path("type").path(k)))),
        s"$metadataJsonPath: field $name declares NESTED " +
          "initial-default values, which this reader does not apply " +
          "— refusing rather than returning NULL for defaulted fields")
      if (!f.hasNonNull("initial-default")) None
      else {
        require(f.path("required").asBoolean(),
          s"$metadataJsonPath: OPTIONAL field $name declares an " +
            "initial-default — applying it needs per-file column " +
            "attribution (a stored NULL must stay NULL); refusing " +
            "rather than clobbering genuine NULLs")
        Some(name -> defaultLiteral(name, schema(name).dataType,
          f.path("initial-default"), metadataJsonPath))
      }
    }
    val topIdToName = fields.map(f =>
      f.path("id").asInt() -> f.path("name").asText()).toMap
    val topNameToId = topIdToName.map(_.swap)

    val listUri = snapNode.path("manifest-list").asText()
    require(listUri.nonEmpty,
      "snapshot has no manifest-list (v1 `manifests` layout unsupported)")
    val data = Seq.newBuilder[DataEntry]
    val dels = Seq.newBuilder[DeleteEntry]
    records(listUri, conf).foreach { mf =>
      val mUri = mf.get("manifest_path").toString
      val mSeq = Option(mf.get("sequence_number"))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      // THIS manifest's full partition spec: field name → (transform,
      // source column). The spec JSON rides the manifest's avro
      // metadata, so multi-spec tables resolve per manifest.
      val specOf: Seq[(String, String, String)] =
        avroMeta(mUri, conf, "partition-spec").map { js =>
          m.readTree(js).elements().asScala.map { f =>
            val srcId = f.path("source-id").asInt()
            (f.path("name").asText(), f.path("transform").asText(),
              topIdToName.getOrElse(srcId, f.path("name").asText()))
          }.toSeq
        }.getOrElse(Nil)
      val identityOf: Map[String, String] = specOf.collect {
        case (n, "identity", src) => n -> src }.toMap
      records(mUri, conf).foreach { e =>
        val status = e.get("status").asInstanceOf[Int]
        if (status != 2) { // 2 = DELETED (removed by this snapshot)
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val uri = df.get("file_path").toString
          val rows = df.get("record_count").asInstanceOf[Long]
          // required by the spec; an absent or 0 size stats the file
          val size = Option(df.get("file_size_in_bytes"))
            .fold(0L)(_.asInstanceOf[Long])
          // null sequence = inherit the manifest's (spec inheritance)
          val seq = Option(e.get("sequence_number"))
            .map(_.asInstanceOf[Long]).getOrElse(mSeq)
          val content = Option(df.get("content"))
            .map(_.asInstanceOf[Int]).getOrElse(0)
          if (content == 0) {
            val pr = df.get("partition").asInstanceOf[GenericRecord]
            val ident = pr.getSchema.getFields.asScala.flatMap { f =>
              identityOf.get(f.name()).map(col =>
                col -> unwrapAvro(pr.get(f.name())))
            }.toMap
            // NON-identity transforms invert into pruning facts: a
            // time/truncate value bounds its SOURCE column (a
            // conservative superset interval — safe for canMatch,
            // which never needs attained bounds), a bucket value
            // prunes by hash set-membership in pruneEntries
            val derived = scala.collection.mutable
              .Map.empty[String, ColStat]
            val buckets = Seq.newBuilder[(String, Int, Long)]
            specOf.foreach { case (fname, transform, src) =>
              if (transform != "identity" &&
                  schema.fieldNames.contains(src) &&
                  pr.getSchema.getField(fname) != null) {
                val v = pr.get(fname)
                if (v != null) {
                  val dt = schema(src).dataType
                  transformBounds(transform, dt, v).foreach {
                    case (lo, hi) => derived(src) =
                      derived.get(src) match {
                        case Some(p) => ColStat(
                          if (FileStats.cmp(dt, lo, p.min) > 0) lo
                          else p.min,
                          if (FileStats.cmp(dt, hi, p.max) < 0) hi
                          else p.max)
                        case None => ColStat(lo, hi)
                      }
                  }
                  (transform, v) match {
                    case (BucketRe(n), num: Number) =>
                      buckets += ((src, n.toInt, num.longValue()))
                    case _ => ()
                  }
                }
              }
            }
            // real file bounds (attained, tighter) win over derived
            val fri = Option(df.getSchema.getField("first_row_id"))
              .flatMap(_ => Option(df.get("first_row_id")))
              .map(_.asInstanceOf[Long])
            data += DataEntry(uri, rows, size, seq, ident,
              derived.toMap ++ entryStats(df, topIdToName, schema),
              buckets.result(), fri)
          } else {
            val ids = Option(df.getSchema.getField("equality_ids"))
              .flatMap(_ => Option(df.get("equality_ids")))
              .map(_.asInstanceOf[java.util.List[Integer]]
                .asScala.map(_.intValue()).toSeq)
              .getOrElse(Nil)
            def optField[T](name: String): Option[T] =
              Option(df.getSchema.getField(name))
                .flatMap(_ => Option(df.get(name)))
                .map(_.asInstanceOf[T])
            val fmt = Option(df.get("file_format"))
              .map(_.toString.toLowerCase(java.util.Locale.ROOT))
              .getOrElse("parquet")
            dels += DeleteEntry(uri, rows, seq, content, ids, fmt,
              optField[AnyRef]("referenced_data_file").map(_.toString),
              optField[java.lang.Long]("content_offset").map(_.longValue()),
              optField[java.lang.Long]("content_size_in_bytes")
                .map(_.longValue()))
          }
        }
      }
    }
    TableMeta(schema, topIdToName, data.result(), dels.result(), snapId,
      defaults)
  }

  /** One Iceberg JSON single-value (the spec's `initial-default`
    * serialization) → a Spark literal value of `dt`. Refuses types
    * with no exact mapping (binary/fixed/uuid/time/nested) rather
    * than guessing an encoding. */
  private def defaultLiteral(name: String, dt: DataType, n: JsonNode,
      where: String): Any = dt match {
    case BooleanType if n.isBoolean => n.asBoolean()
    case IntegerType if n.isNumber => n.asInt()
    case LongType if n.isNumber => n.asLong()
    case FloatType if n.isNumber => n.asDouble().toFloat
    case DoubleType if n.isNumber => n.asDouble()
    case StringType if n.isTextual => n.asText()
    case _: DecimalType => new java.math.BigDecimal(n.asText())
    case DateType if n.isTextual => java.sql.Date.valueOf(n.asText())
    case TimestampNTZType if n.isTextual =>
      java.time.LocalDateTime.parse(n.asText())
    case TimestampType if n.isTextual =>
      java.time.OffsetDateTime.parse(n.asText()).toInstant
    case other => throw new IllegalArgumentException(
      s"$where: field $name has an initial-default of unmappable " +
        s"type $other (value $n) — refusing rather than guessing " +
        "an encoding")
  }

  private def unwrapAvro(v: AnyRef): AnyRef = v match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case other => other
  }

  private val BucketRe = """bucket\[(\d+)\]""".r
  private val TruncRe = """truncate\[(\d+)\]""".r

  /** Invert a non-identity transform VALUE into stat-domain bounds on
    * its SOURCE column — `day(ts)=d` ⇒ ts ∈ [d·86400e6, (d+1)·86400e6)
    * micros, `truncate[w](n)=v` ⇒ n ∈ [v, v+w−1], etc. The interval is
    * a SUPERSET of the file's real values (safe for canMatch pruning,
    * which never requires attained bounds). None = no sound inversion
    * (bucket — a hash; string truncate — no closed upper bound;
    * unknown transforms). */
  private[lake] def transformBounds(transform: String, dt: DataType,
      v: AnyRef): Option[(String, String)] = {
    val num = v match {
      case n: Number => n.longValue()
      case _ => return None
    }
    val MicrosDay = 86400000000L
    def tsOrDate(loDay: Long, hiDayExcl: Long): Option[(String, String)] =
      dt match {
        case DateType =>
          Some((loDay.toString, (hiDayExcl - 1).toString))
        case TimestampType | TimestampNTZType =>
          Some(((loDay * MicrosDay).toString,
            (hiDayExcl * MicrosDay - 1).toString))
        case _ => None
      }
    transform match {
      case "day" => tsOrDate(num, num + 1)
      case "hour" => dt match {
        case TimestampType | TimestampNTZType =>
          Some(((num * 3600000000L).toString,
            ((num + 1) * 3600000000L - 1).toString))
        case _ => None
      }
      case "month" =>
        val first = java.time.LocalDate.of(
          (1970L + Math.floorDiv(num, 12L)).toInt,
          Math.floorMod(num, 12L).toInt + 1, 1)
        tsOrDate(first.toEpochDay, first.plusMonths(1).toEpochDay)
      case "year" =>
        val first = java.time.LocalDate.of((1970L + num).toInt, 1, 1)
        tsOrDate(first.toEpochDay, first.plusYears(1).toEpochDay)
      case TruncRe(w) => dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          scala.util.Try(Math.addExact(num, w.toLong - 1)).toOption
            .map(hi => (num.toString, hi.toString))
        case _ => None
      }
      case _ => None
    }
  }

  /** Decode an entry's lower/upper_bounds + null_value_counts (the
    * spec's single-value binary serialization, int-keyed k_v-record
    * "maps") back into graft's stat domain, so [[PredicatePruning]]
    * prunes imported files with the same prover it uses on native
    * manifests. Unknown field-ids or types decode to nothing — the
    * file is conservatively kept. */
  private def entryStats(df: GenericRecord, topIdToName: Map[Int, String],
      schema: StructType): Map[String, ColStat] = {
    import java.nio.ByteOrder
    def kvs(field: String): Seq[(Int, AnyRef)] =
      Option(df.getSchema.getField(field))
        .flatMap(_ => Option(df.get(field))).toSeq.flatMap {
          case l: java.util.List[_] => l.asScala.map { r0 =>
            val r = r0.asInstanceOf[GenericRecord]
            r.get("key").asInstanceOf[Int] -> r.get("value")
          }
          case _ => Nil
        }
    def decode(dt: DataType, v: AnyRef): Option[String] = {
      val buf = v match {
        case b: java.nio.ByteBuffer =>
          b.duplicate().order(ByteOrder.LITTLE_ENDIAN)
        case _ => return None
      }
      dt match {
        case IntegerType | ShortType | ByteType | DateType =>
          if (buf.remaining() != 4) None else Some(buf.getInt.toString)
        case LongType | TimestampType | TimestampNTZType =>
          if (buf.remaining() != 8) None else Some(buf.getLong.toString)
        case BooleanType =>
          if (buf.remaining() != 1) None
          else Some(if (buf.get() == 0) "0" else "1")
        case FloatType =>
          if (buf.remaining() != 4) None
          else Some(buf.getFloat.toDouble.toString)
        case DoubleType =>
          if (buf.remaining() != 8) None else Some(buf.getDouble.toString)
        case StringType =>
          val a = new Array[Byte](buf.remaining()); buf.get(a)
          Some(new String(a, java.nio.charset.StandardCharsets.UTF_8))
        case _ => None
      }
    }
    def byName(field: String): Map[String, String] =
      kvs(field).flatMap { case (id, v) =>
        for (name <- topIdToName.get(id)
               if schema.fieldNames.contains(name);
             s <- decode(schema(name).dataType, v)) yield name -> s
      }.toMap
    val lo = byName("lower_bounds")
    val hi = byName("upper_bounds")
    val bounds = lo.keySet.intersect(hi.keySet).map(c =>
      c -> ColStat(lo(c), hi(c))).toMap
    val nulls = kvs("null_value_counts").flatMap { case (id, v) =>
      for (name <- topIdToName.get(id); n <- v match {
          case l: java.lang.Long => Some(l.toString)
          case i: java.lang.Integer => Some(i.toString)
          case _ => None
        }) yield FileStats.nullsKey(name) -> ColStat(n, n)
    }.toMap
    bounds ++ nulls
  }

  /** Avro identity partition value → the Catalyst value of column
    * type `dt` (the file's partition-row form). */
  private def partitionValue(dt: DataType, v: AnyRef): Any = v match {
    case null => null
    case _ => dt match {
      case LongType => v.asInstanceOf[Number].longValue()
      case IntegerType => v.asInstanceOf[Number].intValue()
      case ShortType => v.asInstanceOf[Number].shortValue()
      case ByteType => v.asInstanceOf[Number].byteValue()
      case DoubleType => v.asInstanceOf[Number].doubleValue()
      case FloatType => v.asInstanceOf[Number].floatValue()
      case BooleanType => v.asInstanceOf[java.lang.Boolean].booleanValue()
      case StringType => UTF8String.fromString(v.toString)
      case DateType => v.asInstanceOf[Number].intValue() // epoch days
      case other => throw new IllegalArgumentException(
        s"identity partition value of type ${other.simpleString} " +
          "is not supported")
    }
  }

  // ----------------------------------------------------------------- scan

  /** Scan the table at `metadataJsonPath` as a DataFrame — full MOR
    * semantics (position + sequence-aware equality deletes), identity
    * partition columns filled from manifest metadata. Zero-copy
    * federation: nothing is written; the Iceberg table is queried in
    * place. Filters on the result prune files on the manifest bounds
    * when Catalyst pushes them into the scan. */
  def scan(spark: SparkSession, metadataJsonPath: String,
      atSnapshot: Option[Long] = None,
      withRowLineage: Boolean = false): DataFrame = {
    val tm = load(metadataJsonPath,
      spark.sessionState.newHadoopConf(), atSnapshot)
    scanEntries(spark, tm, tm.dataEntries, withRowLineage)
  }

  /** [[scan]] with manifest-stats file pruning: files whose exported
    * lower/upper bounds (+ null counts) PROVE the predicate can't
    * match are never planned — the imported-table equivalent of
    * graft's own stats pruning, running through the same
    * [[PredicatePruning]] prover over the decoded bounds. The
    * predicate is re-applied row-level after the scan, so pruning is
    * pure I/O savings, never semantics. */
  def scanWhere(spark: SparkSession, metadataJsonPath: String,
      predicate: Column, atSnapshot: Option[Long] = None): DataFrame = {
    val tm = load(metadataJsonPath,
      spark.sessionState.newHadoopConf(), atSnapshot)
    scanEntries(spark, tm, pruneEntries(spark, tm, predicate))
      .where(predicate)
  }

  /** The data entries surviving bounds pruning for `predicate` —
    * exposed for plan assertions. Analysis failure (or a predicate the
    * prover can't reason about) keeps every file — pruning is never
    * load-bearing. */
  private[graft] def pruneEntries(spark: SparkSession, tm: TableMeta,
      predicate: Column): Seq[DataEntry] = {
    PredicatePruning.analyze(spark, predicate, tm.schema) match {
      case None => tm.dataEntries
      case Some(c) =>
        val byUri = tm.dataEntries.map(e => e.uri -> e).toMap
        val kept = PredicatePruning.candidateFiles(c, tm.schema,
          tm.dataEntries.map(_.uri), byUri.get(_).map(_.stats))
          .map(byUri)
        bucketPrune(c, kept)
    }
  }

  /** `bucket[N]` set-membership over an imported spec: an equality /
    * IN conjunct on a bucketed source column keeps only entries whose
    * recorded bucket id equals the literal's iceberg-spec hash — the
    * same prune an Iceberg planner makes, sound because the importer
    * pins the spec hash ([[IcebergBucketHash]], Appendix-B vectors).
    * Disjunctions and non-literal comparisons keep everything. */
  private def bucketPrune(cond: org.apache.spark.sql.catalyst
        .expressions.Expression,
      entries: Seq[DataEntry]): Seq[DataEntry] = {
    import org.apache.spark.sql.catalyst.expressions.{
      AttributeReference, EqualTo, In, Literal}
    if (!entries.exists(_.buckets.nonEmpty)) return entries
    // source column → the equality literals a matching row must take
    val eqLits = scala.collection.mutable
      .Map.empty[String, Seq[Literal]]
    PredicatePruning.conjuncts(cond).foreach {
      case EqualTo(a: AttributeReference, l: Literal) =>
        eqLits(a.name) = eqLits.getOrElse(a.name, Nil) :+ l
      case EqualTo(l: Literal, a: AttributeReference) =>
        eqLits(a.name) = eqLits.getOrElse(a.name, Nil) :+ l
      case In(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        // IN is a disjunction: sound only as ONE conjunct fact —
        // handled below by "any value's bucket matches"
        eqLits(a.name) = eqLits.getOrElse(a.name, Nil) ++
          vs.map(_.asInstanceOf[Literal])
      case _ => ()
    }
    if (eqLits.isEmpty) return entries
    entries.filter { e =>
      e.buckets.forall { case (src, n, bv) =>
        eqLits.get(src) match {
          case Some(lits) if lits.forall(l => l.value != null &&
              IcebergBucketHash.supports(l.dataType)) =>
            lits.exists(l => IcebergBucketHash
              .bucketValue(l.value, l.dataType, n).toLong == bv)
          case _ => true
        }
      }
    }
  }

  private def scanEntries(spark: SparkSession, tm: TableMeta,
      entries: Seq[DataEntry],
      withRowLineage: Boolean = false): DataFrame = {
    val outSchema =
      if (!withRowLineage) tm.schema
      else StructType(tm.schema.fields :+
        StructField("_row_id", LongType, nullable = false))
    if (withRowLineage)
      require(!tm.schema.fieldNames.contains("_row_id"),
        "_row_id is the reserved v3 lineage column — a table whose " +
          "declared schema already names it cannot lineage-read")
    if (entries.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], outSchema)
    // double-underscore suffixes so a partition column literally named
    // "f"/"p"/"seq" can never collide with the per-file columns
    // (__ice_<col> for identity values) below
    val F = "__ice_f__"; val P = "__ice_p__"; val SEQ = "__ice_seq__"
    val FRI = "__ice_fri__"

    // per-file facts ride each file's partition row through the entry
    // index (no join): data sequence, first_row_id, identity values
    val identCols: Seq[String] =
      entries.flatMap(_.identity.keys).distinct
        .filter(c => tm.schema.fieldNames.contains(c))
    val partSchema = StructType(
      StructField(SEQ, LongType, nullable = false) +:
      StructField(FRI, LongType, nullable = true) +:
      identCols.map(c =>
        tm.schema(c).copy(name = s"__ice_$c", nullable = true)))
    val conf = spark.sessionState.newHadoopConf()
    val statuses = entries.map(e =>
      EntryFileIndex.status(conf, e.uri, e.size, 0L))
    val rows = entries.map(e => InternalRow.fromSeq(
      e.seq +: e.firstRowId.map(Long.box).orNull +:
        identCols.map(c => partitionValue(tm.schema(c).dataType,
          e.identity.getOrElse(c, null)))))

    // lineage reads also project the MATERIALIZED _row_id column:
    // v3 rewrites (compaction, COW) must persist each row's id
    // physically — files lacking the column (original appends) read
    // it as NULL and resolve positionally below
    val readSchema =
      if (!withRowLineage) tm.schema
      else StructType(tm.schema.fields :+
        StructField("_row_id", LongType, nullable = true))
    var df = EntryFileIndex.dataFrame(spark, readSchema, partSchema,
        statuses.zip(rows),
        // the manifest's decoded bounds — the stats and prover
        // scanWhere prunes with — serve filters pushed into the scan
        () => statuses.zip(entries).map { case (st, e) =>
          st.getPath.toString -> e.stats }.toMap)
      .withColumn(F, EntryFileIndex.fileKey)
      .withColumn(P, col("_metadata.row_index"))
    // identity partition columns are metadata-carried (spec-true; data
    // files may or may not store them — prefer the stored value)
    identCols.foreach(c =>
      df = df.withColumn(c, coalesce(col(c), col(s"__ice_$c"))))
    // v3 initial-defaults (required fields only — load() gates): a
    // pre-evolution file reads the column as NULL; the cast pins the
    // exact decimal/timestamp type. Applied BEFORE scanWhere's
    // row-level predicate, so filters see the defaulted values.
    tm.defaults.foreach { case (c, v) =>
      df = df.withColumn(c,
        coalesce(col(c), lit(v).cast(tm.schema(c).dataType)))
    }

    tm.deleteEntries.foreach { d =>
      require((d.content == 1 && (d.format == "parquet" ||
          d.format == "puffin")) ||
          (d.content == 2 && d.format == "parquet"),
        s"delete file ${d.uri} has content=${d.content} " +
          s"file_format=${d.format} — no implemented decoding; " +
          "refusing rather than mis-reading")
    }

    // v3 DELETION VECTORS (puffin blobs): decode each referenced
    // file's blob through the shared frame + roaring codec and drop
    // its rows by the packed-bitmap bit-test on the row ordinal — the
    // same DeleteArtifacts shape (and broadcast gate) as the Delta DV path.
    val dvDels = tm.deleteEntries.filter(d =>
      d.content == 1 && d.format == "puffin")
    if (dvDels.nonEmpty) {
      val sconf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      // specs resolve up front (missing fields refuse at plan time);
      // footer parse + blob decode run through filterDeletedBy —
      // driver-inline for typical tables, on EXECUTORS past the
      // threshold (specs sort by puffin uri so each task's
      // per-partition footer cache parses every file once)
      val specs = dvDels.map { d =>
        val ref = d.referencedDataFile.getOrElse(
          throw new IllegalArgumentException(
            s"puffin delete entry ${d.uri} lacks referenced_data_file"))
        val off = d.contentOffset.getOrElse(
          throw new IllegalArgumentException(
            s"puffin delete entry ${d.uri} lacks content_offset"))
        val size = d.contentSize.getOrElse(
          throw new IllegalArgumentException(
            s"puffin delete entry ${d.uri} lacks content_size_in_bytes"))
        (d.uri, ref, off, size, d.rows)
      }.sortBy(_._1)
      // the per-closure-instance cache is per-TASK after closure
      // deserialization (and simply per-call on the driver path), so
      // a puffin file's footer parses once per task, not once per DV
      val footerCache = scala.collection.mutable.Map
        .empty[String, Seq[Puffin.BlobMeta]]
      df = DeleteArtifacts.filterDeletedBy(spark, df, col(F), col(P), specs,
        (t: (String, String, Long, Long, Long)) => {
          val (uri, ref, off, size, rows) = t
          val p = new Path(uri)
          val fs = p.getFileSystem(sconf.value)
          // the manifest's offset/length are the read plan, but the
          // footer's own blob metadata is the integrity gate — a blob
          // at this offset whose declared type is NOT
          // deletion-vector-v1 (or is compressed) would decode to
          // garbage row indexes; refuse it loudly
          val blob = footerCache.synchronized {
            footerCache.getOrElseUpdate(uri, Puffin.readBlobs(fs, p))
          }.find(b => b.offset == off && b.length == size)
            .getOrElse(throw new IllegalArgumentException(
              s"$uri has no footer blob at offset $off length " +
                s"$size — the manifest references a region the puffin " +
                "file does not declare"))
          require(blob.blobType == Puffin.DvBlobType,
            s"$uri blob at offset $off has type '${blob.blobType}' " +
              s"— only ${Puffin.DvBlobType} is a deletion vector; " +
              "refusing rather than decoding garbage")
          val bytes = Puffin.readBlob(fs, p, off, size,
            blob.compressionCodec)
          canonUri(ref) ->
            Puffin.readDvBlob(bytes, cardinality = Some(rows))
        })
    }

    val posDels = tm.deleteEntries.filter(d =>
      d.content == 1 && d.format == "parquet")
    if (posDels.nonEmpty) {
      // positions pin exact (path, ordinal) targets — no sequence test
      // needed (a path never re-enters the table with new content).
      // Delete-file path VALUES are writer-form strings; translate
      // them to the canonical encoded key through a driver-side map
      // over the known data entries (accepting either the raw manifest
      // form or the encoded form — SQL has no URI codec, so the
      // translation is a tiny keyed join). The map is a local relation
      // of exact size, so Spark's own broadcast threshold gates it.
      val trans = entries.flatMap { e =>
        val enc = canonUri(e.uri)
        Seq(normUri(e.uri) -> enc, enc -> enc)
      }.distinct
      val transSide = spark.createDataFrame(
        trans.map(t => Row(t._1, t._2)).asJava,
        StructType(Seq(StructField("__ice_raw", StringType),
          StructField("__ice_enc", StringType))))
      val pd = spark.read.schema(StructType(Seq(
          StructField("file_path", StringType),
          StructField("pos", LongType))))
        .parquet(posDels.map(_.uri): _*)
        .select(normUriCol(col("file_path")).as("__ice_rawf"),
          col("pos").as(P))
        .join(transSide, col("__ice_rawf") === col("__ice_raw"))
        .select(col("__ice_enc").as(F), col(P))
      df = df.join(pd, Seq(F, P), "left_anti")
    }

    // equality deletes, grouped by key-id set: one anti-join per
    // distinct key shape covers every artifact of that shape, each
    // delete row carrying its own sequence
    tm.deleteEntries.filter(_.content == 2).groupBy(_.equalityIds)
      .foreach { case (ids, arts) =>
        require(ids.nonEmpty, "equality-delete entry without equality_ids")
        val names = ids.map(id => tm.topIdToName.getOrElse(id,
          throw new IllegalArgumentException(
            s"equality field-id $id not in the current schema")))
        val keySchema = StructType(names.map(n =>
          tm.schema(n).copy(name = n)))
        val delDf = arts.map { a =>
          spark.read.schema(keySchema).parquet(a.uri)
            .withColumn("__ice_dseq", lit(a.seq))
        }.reduce(_ unionByName _)
          .select(names.map(n => col(n).as(s"__ice_d_$n")) :+
            col("__ice_dseq"): _*)
        val cond = names.map(n => df(n) <=> delDf(s"__ice_d_$n"))
          .reduce(_ && _) && df(SEQ) < delDf("__ice_dseq")
        df = df.join(delDf, cond, "left_anti")
      }

    if (!withRowLineage)
      df.select(tm.schema.fieldNames.map(col).toIndexedSeq: _*)
    else
      // the v3 resolution rule: a MATERIALIZED _row_id column wins
      // (rewritten files persist ids physically — positions there
      // mean nothing); otherwise first_row_id + position. A row with
      // NEITHER has no resolvable id — raise rather than return wrong
      // lineage. Survives the DV/position/equality anti-joins above:
      // each row keeps its ordinal within its ORIGINAL file.
      df.select(tm.schema.fieldNames.map(col).toIndexedSeq :+
        coalesce(EntryFileIndex.rowId(Some(col("_row_id")), col(FRI),
            col(P)),
          raise_error(concat(lit("file "), col(F), lit(
            " has neither a materialized _row_id column nor an " +
              "explicit first_row_id manifest field — row lineage " +
              "is unresolvable"))).cast(LongType)).as("_row_id"): _*)
  }

  /** INCREMENTAL read over a published snapshot history: the rows
    * ADDED in snapshots `(fromSnapshot, toSnapshot]` — the
    * mirror-consumption shape for a continuously-published table
    * (each sync reads only the new files, O(delta) I/O however large
    * the table). Append-only ranges only, matching graft's own
    * incremental-scan contract and Iceberg's incremental-append read:
    * a range snapshot whose manifests drop files (rewrite/delete) is
    * refused — the consumer must resync from a full scan. ADDED
    * attribution is exact under delta publishes (each publish's delta
    * manifest marks exactly the new files with the new snapshot id).
    * `toSnapshot` defaults to the current snapshot. */
  def incrementalScan(spark: SparkSession, metadataJsonPath: String,
      fromSnapshot: Long, toSnapshot: Option[Long] = None): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val m = Snapshot.mapper
    val metaP = new Path(metadataJsonPath)
    val fs = metaP.getFileSystem(conf)
    val meta = m.readTree(LakeTable.readString(fs, metaP))
    val hi = toSnapshot.getOrElse(
      meta.path("current-snapshot-id").asLong())
    val ordered = meta.path("snapshots").elements().asScala.toSeq
      .map(_.path("snapshot-id").asLong())
    require(ordered.contains(fromSnapshot),
      s"snapshot $fromSnapshot not in the published history")
    require(ordered.contains(hi),
      s"snapshot $hi not in the published history")
    require(ordered.indexOf(fromSnapshot) < ordered.indexOf(hi),
      s"empty or inverted range ($fromSnapshot, $hi]")
    val tmTo = load(metadataJsonPath, conf, Some(hi))
    // append-only guard: every file live at `from` must still be live
    // at `to`, and no delete artifacts may have appeared in between —
    // otherwise "rows added" is not well-defined from adds alone
    val tmFrom = load(metadataJsonPath, conf, Some(fromSnapshot))
    val toLive = tmTo.dataEntries.map(_.uri).toSet
    require(tmFrom.dataEntries.forall(e => toLive.contains(e.uri)),
      s"range ($fromSnapshot, $hi] removed files — not append-only; " +
        "resync from a full scan")
    require(tmFrom.deleteEntries.map(_.uri).toSet ==
        tmTo.deleteEntries.map(_.uri).toSet,
      s"range ($fromSnapshot, $hi] changed delete artifacts — not " +
        "append-only; resync from a full scan")
    val fromLive = tmFrom.dataEntries.map(_.uri).toSet
    val added = tmTo.dataEntries.filterNot(e => fromLive.contains(e.uri))
    scanEntries(spark, tmTo.copy(deleteEntries = Nil), added)
  }

  /** Materialize the Iceberg table at `metadataJsonPath` as a NEW
    * governed graft table at `destRoot` (post-delete row set; the copy
    * is a clean baseline with no carried delete artifacts). Returns
    * the created table. */
  def importTable(spark: SparkSession, metadataJsonPath: String,
      destRoot: String, partitionBy: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): LakeTable = {
    val conf = spark.sessionState.newHadoopConf()
    val tm = load(metadataJsonPath, conf)
    val lt = LakeTable.create(spark, destRoot, tm.schema,
      partitionBy, properties)
    lt.append(scan(spark, metadataJsonPath))
    lt
  }
}
