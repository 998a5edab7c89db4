package graft.lake

import java.util.UUID

import scala.reflect.ClassTag

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftlake.EntryFileIndex
import org.apache.spark.sql.graftlake.GraftManifestFileIndex.SEQ_COL
import org.apache.spark.sql.types._

/** The merge-on-read delete artifacts ([[Snapshot.deletes]]) on disk:
  * the ONLY reader and writer of their parquet layout (all under
  * `deletes/`):
  *   - equality delete ([[DeleteFile]]): the deleted KEY rows, columns
  *     named by the delete's physical keys;
  *   - position delete ([[PosDeleteFile]], ≡ Iceberg v2): (file_uri
  *     STRING, pos BIGINT) — the target's scan URI and row ordinal;
  *   - deletion vector ([[DvFile]], ≡ Iceberg v3 DVs / Delta DVs):
  *     (file STRING, dv ARRAY<BIGINT>, n_deleted BIGINT) — one row per
  *     targeted data file, `file` table-relative, `dv` its deleted
  *     ordinals packed 64 per long (bit p of word w set ⇔ ordinal
  *     w·64+p is deleted).
  * Reads apply them through [[apply]]; maintenance and the exporters
  * decode positions through [[positions]] / [[dvPositionsByRel]]; the
  * foreign-format readers ([[DeltaImport]], [[IcebergImport]]'s v3
  * puffin path) share the vector bit test through [[filterDeleted]] /
  * [[filterDeletedBy]]. */
private[graft] object DeleteArtifacts {

  /** Column names INSIDE a position-delete file (≡ Iceberg's
    * position-delete schema `file_path`, `pos`). */
  private val POS_FILE_FIELD = "file_uri"
  private val POS_POS_FIELD = "pos"
  /** Deletion-vector artifact columns: target file (table-relative)
    * and its deleted-ordinal bitset packed 64 ordinals per long. */
  private val DV_FILE_FIELD = "file"
  private val DV_BITS_FIELD = "dv"
  private val posSchema = StructType(Seq(
    StructField(POS_FILE_FIELD, StringType),
    StructField(POS_POS_FIELD, LongType)))
  private val dvSchema = StructType(Seq(
    StructField(DV_FILE_FIELD, StringType),
    StructField(DV_BITS_FIELD, ArrayType(LongType))))

  /** Row-provenance columns a position-aware scan carries (from
    * `_metadata.file_path` / `_metadata.row_index`). */
  private[lake] val PFILE_COL = "__graft_pos_file"
  private[lake] val PIDX_COL = "__graft_pos_idx"
  /** An equality-delete row's sequence number (see [[apply]]). */
  private val DSEQ_COL = "__graft_del_seq"

  /** A data file's URI → its table-relative path (`data/…`). Captured
    * file URIs are ABSOLUTE (that's what `_metadata.file_path` yields),
    * but the table can MOVE after capture (ALTER TABLE … RENAME TO, a
    * warehouse relocation) — so delete application matches on the
    * table-RELATIVE tail instead. The `data/` boundary is unambiguous:
    * hive partition dirs always carry '=', so no other path segment is
    * the bare word `data`, and the greedy prefix pins the LAST such
    * segment even when the warehouse path itself contains /data/. */
  def relTail(c: Column): Column =
    regexp_extract(c, "^(?:.*/)?(data/.+)$", 1)

  /** Whether `ds` holds position deletes or vectors — the artifacts a
    * scan applies by row position (see [[PFILE_COL]]). */
  def positional(ds: Seq[DeleteEntry]): Boolean =
    ds.exists(!_.isInstanceOf[DeleteFile])

  private def uris(root: String, ds: Seq[DeleteEntry]): Seq[String] =
    ds.map(d => new Path(root, d.path).toString)

  // every artifact of a kind shares ONE schema — read them as a single
  // multi-path scan with that schema declared, not N unioned per-file
  // reads each paying plan-time footer inference (at delete-commit
  // depth the N-union shape made every scan's PLANNING cost
  // O(outstanding artifacts) driver footer opens)
  private def posPairs(spark: SparkSession, root: String,
      pos: Seq[PosDeleteFile], f: String, p: String): DataFrame =
    spark.read.schema(posSchema).parquet(uris(root, pos): _*)
      .select(relTail(col(POS_FILE_FIELD)).as(f),
        col(POS_POS_FIELD).cast("long").as(p))

  private def readVectors(spark: SparkSession, root: String,
      dvs: Seq[DvFile]): DataFrame =
    spark.read.schema(dvSchema).parquet(uris(root, dvs): _*)

  /** Every row position `ds`'s position deletes and vectors suppress,
    * as (f: table-relative data path, p: row ordinal) — None when `ds`
    * holds neither. Entries for files no longer live may be present;
    * callers keep the live ones. */
  def positions(spark: SparkSession, root: String,
      ds: Seq[DeleteEntry]): Option[DataFrame] = {
    val pos = ds.collect { case d: PosDeleteFile => d }
    val dvs = ds.collect { case d: DvFile => d }
    val fromPos =
      if (pos.isEmpty) None else Some(posPairs(spark, root, pos, "f", "p"))
    val fromDv =
      if (dvs.isEmpty) None
      else Some(readVectors(spark, root, dvs)
        .select(col(DV_FILE_FIELD).as("f"),
          posexplode(col(DV_BITS_FIELD)).as(Seq("w", "word")))
        .select(col("f"), col("w"), explode(expr(
          "filter(sequence(0, 63), b -> (shiftright(word, b) & 1) = 1)"))
          .as("b"))
        .select(col("f"), (col("w") * 64 + col("b")).cast("long").as("p")))
    (fromPos ++ fromDv).reduceOption(_ unionByName _)
  }

  /** Vector artifacts → per-file deleted positions, decoded on the
    * driver (driver bytes ∝ deleted rows / 8 — the artifacts' own
    * planning class), keyed by table-relative data path. */
  def dvPositionsByRel(spark: SparkSession, root: String,
      dvs: Seq[DvFile]): Map[String, Array[Long]] =
    if (dvs.isEmpty) Map.empty
    else readVectors(spark, root, dvs).collect().iterator.map { r =>
        val words = r.getSeq[Long](1)
        val pos = Array.newBuilder[Long]
        var w = 0
        while (w < words.length) {
          var word = words(w); var bit = 0
          while (word != 0L) {
            val t = java.lang.Long.numberOfTrailingZeros(word)
            bit += t
            pos += (w.toLong << 6) + bit
            word = word >>> t >>> 1; bit += 1
          }
          w += 1
        }
        r.getString(0) -> pos.result()
      }.filter(_._2.nonEmpty).toMap

  /** Write `df` as delete artifacts of the table at `root`: stage,
    * list, and rename each part file into `deletes/` (its name prefixed
    * by `prefix`). Returns each artifact's (table-relative path,
    * on-disk bytes). */
  def write(fs: FileSystem, root: String, df: DataFrame,
      prefix: String = ""): Seq[(String, Long)] = {
    val staging = new Path(root, s".staging-${UUID.randomUUID()}")
    try {
      df.write.mode("overwrite")
        // committer v1 (see LakeTable's data-file writer): v2's
        // mid-commit crash window can strand stale task files that the
        // listing promotes
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(staging.toString)
      val files = LakeTable.timed("w.list")(LakeTable.listParquet(fs, staging))
      val delDir = new Path(root, LakeTable.DELETES_DIR)
      fs.mkdirs(delDir)
      files.map { f =>
        val dest = new Path(delDir, prefix + f.getName)
        if (!fs.rename(f, dest))
          throw new java.io.IOException(s"rename $f -> $dest failed")
        (s"${LakeTable.DELETES_DIR}/${dest.getName}",
          fs.getFileStatus(dest).getLen)
      }
    } finally fs.delete(staging, true)
  }

  /** A position-aware scan's rows ([[PFILE_COL]], [[PIDX_COL]]) as
    * position-delete rows, for [[write]]. */
  def positionRows(scan: DataFrame): DataFrame =
    scan.select(col(PFILE_COL).as(POS_FILE_FIELD),
      col(PIDX_COL).as(POS_POS_FIELD))

  /** Fold (f, p) position pairs (see [[positions]]) into ONE
    * deletion-vector artifact — one bitset row per file — and [[write]]
    * it (`dv-` prefixed). One bitset per file, built per group (a
    * maintenance pass — the read path never runs this); ordinals are
    * bounded by the file's row count, so the bitset is bytes ∝ file
    * rows / 8 at worst. */
  def writeVectors(fs: FileSystem, root: String,
      pairs: DataFrame): Seq[(String, Long)] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val rows = pairs.as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val bs = new java.util.BitSet()
        it.foreach { case (_, p) =>
          require(p <= Int.MaxValue, s"row ordinal $p out of bitset range")
          bs.set(p.toInt)
        }
        (f, bs.toLongArray.toSeq, bs.cardinality().toLong)
      }
      .toDF(DV_FILE_FIELD, DV_BITS_FIELD, "n_deleted")
    write(fs, root, rows.coalesce(1), prefix = "dv-")
  }

  /** Apply snapshot `ctx`'s delete artifacts to `frame`, a scan of its
    * data files (under `ctx`'s schema) that carries each row's file's
    * data sequence number ([[GraftManifestFileIndex.SEQ_COL]]) when
    * `ctx` has equality deletes and [[PFILE_COL]] / [[PIDX_COL]] when it
    * has positional ones; returns the surviving rows without the
    * sequence column.
    *
    * Equality deletes (≡ Iceberg's scan-planning rule): a delete file
    * of sequence s suppresses matching key rows in every data file of
    * data sequence number strictly below s, so a merge's after-image,
    * sharing its delete's sequence, survives. Both sequences are
    * per-file partition columns of their scans: one anti-join on
    * `keys equal && data seq < delete seq`, no per-file or per-commit
    * literal, and one delete broadcast for every data scan.
    *
    * Position deletes (≡ Iceberg v2): a (file_uri, pos) row suppresses
    * exactly row ordinal `pos` of the named file — applied via the
    * file's table-relative tail and row index (stable against file
    * splits) with one anti-join over the unioned delete set, which AQE
    * broadcasts when small.
    *
    * Deletion vectors: the packed-word bit test ([[filterDeleted]]'s),
    * gated on the artifacts' recorded [[DvFile.bytes]]. */
  def apply(spark: SparkSession, root: String, ctx: Snapshot,
      frame: DataFrame): DataFrame = {
    val dels = ctx.deleteFiles
    val eqApplied =
      if (dels.isEmpty) frame
      else {
        // one anti-join per distinct (keys, physicalKeys) pair, with
        // ALL of the pair's artifacts in ONE multi-file scan under a
        // DECLARED schema (see posPairs), each file's sequence number
        // its partition row (EntryFileIndex). Keys are live columns
        // (dropColumn refuses a delete's key). Declared types are the
        // CURRENT key types: a key widened after a delete was written
        // reads under the wide type via the same reader promotions
        // [[LakeTable.canWiden]] admits (int→long/double, float→double
        // — exactly what ALTER WIDEN allows; WidenSpec proves the
        // combined case). Splitting on physicalKeys keeps anti-join
        // semantics: surviving rows must miss every group, and
        // anti-joins against a partition of the artifacts compose to
        // the anti-join against their union.
        val sch = DataType.fromJson(ctx.schemaJson).asInstanceOf[StructType]
        val types = sch.fields.map(f => f.name -> f.dataType).toMap
        val conf = spark.sparkContext.hadoopConfiguration
        dels.groupBy(d => (d.keys, d.physicalKeys))
          .foldLeft(frame) { case (df, ((keys, physKeys), group)) =>
            val delDF = EntryFileIndex.dataFrame(spark,
                StructType(physKeys.zip(keys).map { case (p, k) =>
                  StructField(p, types(k))
                }),
                StructType(Seq(StructField(DSEQ_COL, LongType))),
                group.map(d => EntryFileIndex.status(conf,
                  new Path(root, d.path).toString, 0L, 0L) ->
                  InternalRow(d.seq)),
                () => Map.empty)
              .select(physKeys.zip(keys).map { case (p, k) =>
                col(p).as(s"__graft_del_$k")
              } :+ col(DSEQ_COL): _*)
            val cond = keys.map(k => col(k) === col(s"__graft_del_$k"))
              .reduce(_ && _) && col(SEQ_COL) < col(DSEQ_COL)
            df.join(delDF, cond, "left_anti")
          }.drop(SEQ_COL)
      }
    val pos = ctx.posDeleteFiles
    val posApplied =
      if (pos.isEmpty) eqApplied
      else eqApplied.join(
        posPairs(spark, root, pos, "__graft_pd_file", "__graft_pd_pos"),
        relTail(col(PFILE_COL)) === col("__graft_pd_file") &&
          col(PIDX_COL) === col("__graft_pd_pos"),
        "left_anti")
    val dvs = ctx.dvFiles
    if (dvs.isEmpty) posApplied
    else joinFiltered(spark, posApplied, relTail(col(PFILE_COL)),
      col(PIDX_COL), readVectors(spark, root, dvs).select(
        col(DV_FILE_FIELD).as("__gdv_file"),
        col(DV_BITS_FIELD).as("__gdv_words")),
      dvs.map(_.bytes).sum)
  }

  private val wordsSchema = StructType(Seq(
    StructField("__gdv_file", StringType, nullable = false),
    StructField("__gdv_words", ArrayType(LongType))))

  /** Pack sorted deleted ordinals into a bit-per-row word array. */
  private def packWords(key: String, positions: Array[Long]): Array[Long] =
    if (positions.isEmpty) Array.empty[Long]
    else {
      require(positions.last < (1L << 34),
        s"DV row index ${positions.last} for $key exceeds any " +
          "plausible parquet row count — refusing a hostile DV")
      val w = new Array[Long]((positions.last >>> 6).toInt + 1)
      positions.foreach(i => w((i >>> 6).toInt) |= (1L << (i & 63)))
      w
    }

  /** Drop the rows `dvs` marks deleted. `fileKey` must evaluate to the
    * same normalized form as the Seq's keys; `pos` is the row ordinal
    * within its file (`_metadata.row_index`). Files absent from `dvs`
    * pass through untouched (left join + null-words bypass). */
  def filterDeleted(spark: SparkSession, df: DataFrame,
      fileKey: Column, pos: Column,
      dvs: Seq[(String, Array[Long])]): DataFrame = {
    if (dvs.isEmpty) return df
    val rows = dvs.map { case (key, positions) =>
      Row(key, packWords(key, positions).toSeq)
    }
    val dvDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), wordsSchema)
    val dvBytes = rows.map(r => 64L + r.getSeq[Long](1).length * 8L).sum
    joinFiltered(spark, df, fileKey, pos, dvDf, dvBytes)
  }

  /** Like [[filterDeleted]] but with the PER-FILE DECODE step under
    * this object's control: `decode` turns one opaque spec into
    * (fileKey, sorted deleted ordinals). Below the driver-decode
    * threshold it runs inline on the driver; above it the specs
    * distribute and decode inside executor tasks (`decode` and
    * anything it captures must be serializable — pass a
    * SerializableConfiguration, never a FileSystem), so neither the
    * fs round-trips nor the decoded bitmaps ever aggregate on the
    * driver. The distributed words frame persists (caller releases
    * via `spark.catalog.clearCache()` after its action, the house
    * cache-release contract) so the exact-byte broadcast-gate measure
    * does not decode twice. */
  def filterDeletedBy[T: ClassTag](spark: SparkSession, df: DataFrame,
      fileKey: Column, pos: Column,
      specs: Seq[T], decode: T => (String, Array[Long])): DataFrame = {
    if (specs.isEmpty) return df
    val maxDriver = spark.conf
      .getOption("spark.graft.lake.dv-decode-driver-max-files")
      .map(_.toInt).getOrElse(1024)
    if (specs.size <= maxDriver)
      return filterDeleted(spark, df, fileKey, pos, specs.map(decode))
    val slices = math.max(1, math.min(
      spark.sparkContext.defaultParallelism,
      specs.size / 64))
    val rdd = spark.sparkContext.parallelize(specs, slices).map { t =>
      val (key, positions) = decode(t)
      Row(key, packWords(key, positions).toSeq)
    }
    val dvDf = spark.createDataFrame(rdd, wordsSchema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val agg = dvDf.agg(sum(
      size(col("__gdv_words")).cast("long") * 8L + 64L)).head()
    val dvBytes = if (agg.isNullAt(0)) 0L else agg.getLong(0)
    joinFiltered(spark, df, fileKey, pos, dvDf, dvBytes)
  }

  /** The vector bit test: a row survives unless its file has a vector
    * AND its ordinal's bit is set; `get()` is null-safe past the
    * bitmap's tail (bits beyond the last set word were never set).
    * Broadcast bound: each row is bytes ∝ target file's rows / 8
    * (~125 KB for a 10⁶-row file), so a delete pattern touching ~60k+
    * such files pushes the hint past Spark's 8 GB broadcast ceiling;
    * when `dvBytes` exceeds the gate (default 1 GB) the join stays a
    * plain shuffled one keyed on the file (still one slim row per
    * file), same results either way. */
  private def joinFiltered(spark: SparkSession, df: DataFrame,
      fileKey: Column, pos: Column,
      dvDf: DataFrame, dvBytes: Long): DataFrame = {
    val dvMax = spark.conf
      .getOption("spark.graft.lake.dv-broadcast-max-bytes")
      .map(_.toLong).getOrElse(1L << 30)
    val hinted = if (dvBytes <= dvMax) broadcast(dvDf) else dvDf
    df.withColumn("__gdv_k", fileKey)
      .withColumn("__gdv_i", pos)
      .join(hinted, col("__gdv_k") === col("__gdv_file"), "left")
      .where(col("__gdv_words").isNull || coalesce(
        expr("(shiftright(get(__gdv_words, " +
          "CAST(__gdv_i / 64 AS INT)), " +
          "CAST(__gdv_i % 64 AS INT)) & 1) = 0"),
        lit(true)))
      .drop("__gdv_k", "__gdv_i", "__gdv_file", "__gdv_words")
  }
}
