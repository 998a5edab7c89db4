package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Per-data-file column min/max statistics — the manifest information that
  * lets MERGE/DELETE prune candidate files BEFORE any data scan (≡ Iceberg's
  * per-file `lower_bounds`/`upper_bounds`, which is what makes the
  * reference's incremental MERGE cheap on a large table:
  * scripts/bronze-silver.py:149-152,209-217).
  *
  * Collection is free of data movement: bounds come from the Parquet footers
  * of the files just written (cost ∝ commit size, never table size) plus the
  * hive partition-directory values. Values are stored as strings in a
  * type-normalized domain so range intersection at prune time is a plain
  * comparison:
  *
  *   - integral / boolean / date / timestamp  →  decimal Long
  *     (days for DATE, microseconds for TIMESTAMP)
  *   - float / double                         →  Double
  *   - string                                 →  raw UTF-8 (unsigned byte
  *     order — what both Parquet's UTF8 comparator and Spark's UTF8String
  *     ordering use), omitted when > 96 bytes so manifests stay small
  *
  * A column with unknown bounds is simply absent for that file → the file
  * is conservatively kept by every prune. Correctness never depends on a
  * stat being present.
  */
object FileStats {

  /** Strings longer than this (bytes) are not recorded — keeps manifests
    * small when a table carries document bodies. */
  private val MaxStringStatBytes = 96

  /** Per-file NULL COUNTS ride the stats map as `__nulls__<col>`
    * point-stats (the [[BloomStats]] pseudo-column technique — zero
    * manifest format changes). What they buy: proofs that EVERY row of
    * a file matches a predicate ([[PredicatePruning.allRowsMatch]] —
    * bounds alone can never prove it, a NULL row fails any comparison),
    * which turns a retention `DELETE WHERE ts < cutoff` into a
    * metadata-only commit; and `IS NULL` pruning (a zero-null file
    * can't match). Absent for legacy files → both degrade safely. */
  val NullsPrefix = "__nulls__"
  def nullsKey(c: String): String = NullsPrefix + c
  def isNullsKey(k: String): Boolean = k.startsWith(NullsPrefix)

  /** Per-file EXACT column sums (`write.agg.columns`, integral columns
    * only) ride the stats map as `__sum__<col>` point-stats — the raw
    * material for ManifestAggRule's metadata-only SUM leg. Recorded as
    * the exact decimal total of the file's non-null values (all-null
    * and empty files record "0"); collected in one column-pruned
    * distributed pass over the freshly written files (the BloomStats
    * pattern), so the cost is opt-in and ∝ the commit's own data. */
  val SumPrefix = "__sum__"
  def sumKey(c: String): String = SumPrefix + c
  def isSumKey(k: String): Boolean = k.startsWith(SumPrefix)

  /** Types whose per-file sums are EXACT and whose Spark sum semantics
    * a driver-side BigInt fold reproduces bit-for-bit (integral sums
    * promote to LongType; in-range folds are order-independent).
    * FP sums are order-dependent in Spark itself — no exact fold
    * exists, so they are never recorded. */
  def supportsExactSum(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Internal pseudo-columns (blooms, null counts, sums) — excluded
    * from user-facing bounds views. */
  def isInternalKey(k: String): Boolean =
    isNullsKey(k) || isSumKey(k) || BloomStats.isBloomKey(k)

  /** One distributed pass over freshly written `files`: exact per-file
    * sums for `cols` (already filtered to [[supportsExactSum]] types
    * present in the data files). Returns absolute path → sum stats. */
  def collectSums(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String], basePath: String, schema: StructType,
      cols: Seq[String]): Map[String, Map[String, ColStat]] = {
    import org.apache.spark.sql.functions.{col => c, sum, coalesce, lit}
    val readSchema = StructType(
      schema.fields.filter(f => cols.contains(f.name)))
    val rows = spark.read.option("basePath", basePath)
      .schema(readSchema).parquet(files: _*)
      .withColumn("__f", c("_metadata.file_path"))
      .groupBy("__f")
      .agg(coalesce(sum(c(cols.head).cast(DecimalType(38, 0))),
          lit(java.math.BigDecimal.ZERO)).as(cols.head),
        cols.tail.map(n =>
          coalesce(sum(c(n).cast(DecimalType(38, 0))),
            lit(java.math.BigDecimal.ZERO)).as(n)): _*)
      .collect()
    // keyed by the scan's own file URI; the caller relativizes (an
    // EMPTY file yields no group row — the caller records zero sums)
    rows.map { r =>
      r.getString(0) -> cols.map { n =>
        val v = r.getDecimal(r.fieldIndex(n)).toBigInteger.toString
        sumKey(n) -> ColStat(v, v)
      }.toMap
    }.toMap
  }

  /** Types whose bounds we can both collect and compare. A key of any
    * other type disables pruning (full candidate set), never correctness. */
  def supportsPruning(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
        DateType | TimestampType | FloatType | DoubleType | StringType => true
    case _ => false
  }

  /** Types prunable against LITERAL predicates (footer decode + literal
    * encode agree on a domain). Strictly wider than [[supportsPruning]]:
    * TIMESTAMP_NTZ footers store raw wall-clock micros and an NTZ
    * literal's internal value IS those micros, so literal pruning is
    * exact — but [[boundExpr]] has no session-zone-free way to project
    * an NTZ COLUMN to that domain, so keyed source-bounds pruning
    * (which needs boundExpr) keeps the narrower set. */
  def supportsLiteralPruning(dt: DataType): Boolean =
    supportsPruning(dt) || dt == TimestampNTZType

  /** Expression projecting `c` into the stat domain above, for computing
    * source-side key bounds with a plain min/max aggregate. */
  def boundExpr(c: String, dt: DataType): Column = dt match {
    case StringType => col(c)
    case DateType => datediff(col(c), to_date(lit("1970-01-01"))).cast(LongType)
    case TimestampType => unix_micros(col(c))
    case BooleanType => col(c).cast(IntegerType).cast(LongType)
    case ByteType | ShortType | IntegerType | LongType => col(c).cast(LongType)
    case FloatType | DoubleType => col(c).cast(DoubleType)
    case other =>
      throw new IllegalArgumentException(s"no stat domain for $other")
  }

  /** Domain comparison of two encoded stat values of type `dt`. */
  def cmp(dt: DataType, a: String, b: String): Int = dt match {
    case FloatType | DoubleType =>
      java.lang.Double.compare(a.toDouble, b.toDouble)
    case StringType =>
      unsignedCompare(a.getBytes(StandardCharsets.UTF_8),
        b.getBytes(StandardCharsets.UTF_8))
    case _ => java.lang.Long.compare(a.toLong, b.toLong)
  }

  /** Does file range [fMin, fMax] intersect source range [sMin, sMax]? */
  def rangesOverlap(dt: DataType, fMin: String, fMax: String,
      sMin: String, sMax: String): Boolean =
    !(cmp(dt, fMax, sMin) < 0 || cmp(dt, fMin, sMax) > 0)

  private def unsignedCompare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  // -------------------------------------------------------------- collection

  /** Bounds and exact row count of one freshly written data file:
    * partition values parsed from the hive path (exact — identity
    * partition columns are not stored in the file; transformed fields
    * record their derived value as a point-stat under the derived dir
    * name) plus footer min/max for the data columns (including
    * transformed-partition SOURCE columns, which live in the file).
    * Throws when the footer can't be read — a file without a row count
    * can't be committed; bounds the footer can't decode are just left
    * out. */
  def collect(conf: Configuration, file: Path, schema: StructType,
      partitionFields: Seq[PartitionSpec.Field],
      relPath: String): (Map[String, ColStat], Long) =
    profile(readFooter(conf, file), schema, partitionFields, relPath)

  /** The footer's schema as SPARK types (the per-footer conversion the
    * parquet datasource's schema inference applies, with NO Spark job:
    * merged inference would hide a file MISSING a table column behind
    * NULLs) + [[collect]], off ONE footer open — the add_files profile
    * pass needs both, and a separate open per use doubles the dominant
    * per-file import cost (a footer open is the most expensive fs
    * operation of a metadata-only commit). Throws if
    * the footer is unreadable (the caller's per-file gate reports it);
    * stats decode failures inside a readable footer degrade to
    * no-stats exactly like [[collect]]. */
  def footerProfile(conf: Configuration, file: Path,
      converter: org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter,
      schema: StructType, partitionFields: Seq[PartitionSpec.Field],
      relPath: String)
      : (StructType, Map[String, ColStat], Long) = {
    val footer = readFooter(conf, file)
    val (st, rows) = profile(footer, schema, partitionFields, relPath)
    (converter.convert(footer.getFileMetaData.getSchema), st, rows)
  }

  private def readFooter(conf: Configuration, file: Path)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try reader.getFooter finally reader.close()
  }

  /** The [[collect]] result of one read footer. */
  private def profile(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      schema: StructType, partitionFields: Seq[PartitionSpec.Field],
      relPath: String): (Map[String, ColStat], Long) = {
    val fromPath = partitionStats(schema, partitionFields, relPath)
    val identitySources =
      partitionFields.filter(_.isIdentity).map(_.source).toSet
    val dataCols = schema.fields
      .filterNot(f => identitySources(f.name))
      .filter(f => supportsLiteralPruning(f.dataType))
      .map(f => f.name -> f.dataType).toMap
    val rows = footer.getBlocks.asScala.map(_.getRowCount).sum
    val bounds = Try(footerStatsOf(footer, dataCols))
      .getOrElse(Map.empty[String, ColStat])
    // identity partition columns live in the DIRECTORY, not the file:
    // a concrete dir value means zero nulls in this file; the
    // __HIVE_DEFAULT_PARTITION__ dir means every row is null
    val partNulls = partitionFields.filter(_.isIdentity).flatMap { f =>
      if (fromPath.contains(f.dirName)) Some(nullsKey(f.source) ->
        ColStat("0", "0"))
      else if (nullPartitionDirs(relPath).contains(f.dirName))
        Some(nullsKey(f.source) -> ColStat(rows.toString, rows.toString))
      else None
    }.toMap
    (fromPath ++ bounds ++ partNulls, rows)
  }

  /** Dir names of this path's `__HIVE_DEFAULT_PARTITION__` segments. */
  private def nullPartitionDirs(relPath: String): Set[String] =
    relPath.split('/').dropRight(1).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i > 0 && seg.substring(i + 1) == "__HIVE_DEFAULT_PARTITION__")
        Some(seg.substring(0, i))
      else None
    }.toSet

  /** Footer column bounds and null counts. */
  private def footerStatsOf(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      dataCols: Map[String, DataType]): Map[String, ColStat] = {
    {
      // Combine bounds across row groups; a column is dropped for the whole
      // file the moment any group's stats are missing or undecodable.
      // Null counts accumulate independently of bounds (a chunk whose
      // bounds can't decode may still report its null count) and are
      // dropped for the file the moment any chunk doesn't report one.
      val acc = mutable.Map.empty[String, (String, String)]
      val dropped = mutable.Set.empty[String]
      val nullAcc = mutable.Map.empty[String, Long]
      val nullDropped = mutable.Set.empty[String]
      for (block <- footer.getBlocks.asScala;
          cc <- block.getColumns.asScala) {
        val path = cc.getPath.toArray
        if (path.length == 1 && dataCols.contains(path(0))) {
          val name = path(0)
          val dt = dataCols(name)
          if (!dropped(name)) decodeChunk(cc, dt) match {
            case None => dropped += name; acc.remove(name)
            case Some(None) => // all-null chunk: contributes no values
            case Some(Some((mn, mx))) =>
              acc.get(name) match {
                case Some((m0, x0)) =>
                  acc(name) = (if (cmp(dt, mn, m0) < 0) mn else m0,
                    if (cmp(dt, mx, x0) > 0) mx else x0)
                case None => acc(name) = (mn, mx)
              }
          }
          if (!nullDropped(name)) {
            val st = cc.getStatistics
            if (st == null || st.isEmpty || !st.isNumNullsSet) {
              nullDropped += name; nullAcc.remove(name)
            } else nullAcc(name) = nullAcc.getOrElse(name, 0L) +
              st.getNumNulls
          }
        }
      }
      acc.map { case (k, (mn, mx)) => k -> ColStat(mn, mx) }.toMap ++
        nullAcc.map { case (k, n) =>
          nullsKey(k) -> ColStat(n.toString, n.toString)
        }
    }
  }

  /** None = unknown (drop column for the file); Some(None) = chunk has no
    * non-null values (skip); Some(Some(bounds)) = encoded chunk bounds. */
  private def decodeChunk(cc: ColumnChunkMetaData,
      dt: DataType): Option[Option[(String, String)]] = {
    val st = cc.getStatistics
    if (st == null || st.isEmpty) return None
    if (!st.hasNonNullValue) return Some(None)
    val pt = cc.getPrimitiveType
    val ann = pt.getLogicalTypeAnnotation

    def longs(mn: Long, mx: Long) = Some(Some((mn.toString, mx.toString)))

    // FP bounds are only safe when well-ordered: parquet-mr's min/max are
    // NaN-poisoned (Math.min/max propagate NaN), and Double.compare puts
    // NaN above every value — a [1.0, NaN] file would record min=max=NaN
    // and be pruned against source key 1.0, silently missing rows. Drop
    // NaN-bearing bounds; widen ±0.0 (min 0.0 → -0.0, max -0.0 → +0.0)
    // so a file holding -0.0 is never pruned against source 0.0 (Spark
    // join equality treats 0.0 == -0.0).
    def fpBounds(mn: Double, mx: Double): Option[Option[(String, String)]] =
      if (mn.isNaN || mx.isNaN) None
      else {
        val lo = if (mn == 0.0) -0.0 else mn
        val hi = if (mx == 0.0) 0.0 else mx
        Some(Some((lo.toString, hi.toString)))
      }

    (pt.getPrimitiveTypeName, dt) match {
      case (PrimitiveTypeName.BOOLEAN, BooleanType) =>
        val mn = st.genericGetMin.asInstanceOf[java.lang.Boolean]
        val mx = st.genericGetMax.asInstanceOf[java.lang.Boolean]
        longs(if (mn) 1L else 0L, if (mx) 1L else 0L)
      case (PrimitiveTypeName.INT32,
          ByteType | ShortType | IntegerType | DateType) =>
        ann match {
          case a: LogicalTypeAnnotation.IntLogicalTypeAnnotation
              if !a.isSigned => None
          case _ =>
            val mn = st.genericGetMin.asInstanceOf[java.lang.Integer]
            val mx = st.genericGetMax.asInstanceOf[java.lang.Integer]
            longs(mn.longValue(), mx.longValue())
        }
      case (PrimitiveTypeName.INT64, LongType) =>
        ann match {
          case a: LogicalTypeAnnotation.IntLogicalTypeAnnotation
              if !a.isSigned => None
          case _ =>
            longs(st.genericGetMin.asInstanceOf[java.lang.Long],
              st.genericGetMax.asInstanceOf[java.lang.Long])
        }
      case (PrimitiveTypeName.INT64, TimestampNTZType) =>
        // NTZ: raw wall-clock micros, no zone adjustment on either side
        ann match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue()
            val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => longs(mn, mx)
              case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                longs(mn * 1000L, mx * 1000L)
              case _ => None
            }
          case _ => None
        }
      case (PrimitiveTypeName.INT64, TimestampType) =>
        ann match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue()
            val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => longs(mn, mx)
              case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                longs(mn * 1000L, mx * 1000L)
              case _ => None // NANOS etc.: not a domain we normalize
            }
          case _ => None
        }
      case (PrimitiveTypeName.FLOAT, FloatType | DoubleType) =>
        val mn = st.genericGetMin.asInstanceOf[java.lang.Float]
        val mx = st.genericGetMax.asInstanceOf[java.lang.Float]
        fpBounds(mn.doubleValue(), mx.doubleValue())
      case (PrimitiveTypeName.DOUBLE, DoubleType) =>
        val mn = st.genericGetMin.asInstanceOf[java.lang.Double]
        val mx = st.genericGetMax.asInstanceOf[java.lang.Double]
        fpBounds(mn.doubleValue(), mx.doubleValue())
      case (PrimitiveTypeName.BINARY, StringType) =>
        ann match {
          case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
            val mn = st.genericGetMin.asInstanceOf[Binary]
            val mx = st.genericGetMax.asInstanceOf[Binary]
            if (mn.length > MaxStringStatBytes ||
              mx.length > MaxStringStatBytes) None
            else Some(Some((mn.toStringUsingUTF8, mx.toStringUsingUTF8)))
          case _ => None
        }
      case _ => None
    }
  }

  // --------------------------------------------------- hive-path partitions

  private def partitionStats(schema: StructType,
      partitionFields: Seq[PartitionSpec.Field],
      relPath: String): Map[String, ColStat] = {
    if (partitionFields.isEmpty) return Map.empty
    val byDirName = partitionFields.map(f => f.dirName -> f).toMap
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    relPath.split('/').dropRight(1).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else {
        val name = seg.substring(0, i)
        val raw = unescapePathSegment(seg.substring(i + 1))
        if (raw == "__HIVE_DEFAULT_PARTITION__") None
        else byDirName.get(name).flatMap { f =>
          val dt =
            if (f.isIdentity) byName.getOrElse(f.source, NullType)
            else f.statType(byName.getOrElse(f.source, NullType))
          encodePartitionValue(dt, raw).map(cs => name -> cs)
        }
      }
    }.toMap
  }

  /** Partition values get the SAME FP normalization as footer stats
    * (fpBounds): a file in partition `x=-0.0` stores bounds [-0.0, 0.0],
    * so pruning against source key 0.0 keeps it (Spark equality:
    * 0.0 == -0.0); a NaN partition value records no stat (conservatively
    * kept — NaN ordering is not part of the prune domain). */
  private[lake] def encodePartitionValue(dt: DataType,
      raw: String): Option[ColStat] =
    Try(dt match {
      case StringType => ColStat(raw, raw)
      case ByteType | ShortType | IntegerType | LongType =>
        val v = raw.toLong.toString; ColStat(v, v)
      case BooleanType =>
        val v = (if (raw.toBoolean) 1L else 0L).toString; ColStat(v, v)
      case DateType =>
        val v = java.time.LocalDate.parse(raw).toEpochDay.toString
        ColStat(v, v)
      case FloatType | DoubleType =>
        // FloatType must round-trip through Float: boundExpr encodes
        // source floats via cast(DoubleType) (exact float→double
        // widening), so decoding the path value as a raw Double (e.g.
        // "0.1" → 0.1d instead of 0.1f's 0.10000000149d) would place the
        // file's bounds off the source's encoding and prune a matching
        // file. DoubleType path values ARE the double, so decode direct.
        val d =
          if (dt == FloatType) raw.toFloat.toDouble else raw.toDouble
        if (d.isNaN) throw new IllegalArgumentException(raw)
        val lo = if (d == 0.0) -0.0 else d
        val hi = if (d == 0.0) 0.0 else d
        ColStat(lo.toString, hi.toString)
      case _ => throw new IllegalArgumentException(raw)
    }).toOption

  /** Inverse of Spark's hive-path escaping (`%XX` per special char). */
  /** Hive path unescaping: %XX sequences only — URLDecoder's
    * form-decoding would corrupt a literal '+' (hive never escapes
    * it). Shared by the interop exporters' partition-value parses. */
  private[lake] def unescapePathSegment(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = Try(Integer.parseInt(s.substring(i + 1, i + 3), 16)).toOption
        hex match {
          case Some(v) => sb.append(v.toChar); i += 3
          case None => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
