package graft.lake

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftlake.{EntryFileIndex, GraftManifestFileIndex}
import org.apache.spark.sql.types._

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

/** A snapshot-versioned, partitioned, Parquet-backed table — the engine's
  * native reimplementation of the Iceberg capabilities the reference uses
  * (reference: scripts/raw-bronze.py:158-185, scripts/bronze-silver.py:115-217):
  *
  *   - atomic snapshot commits (versioned metadata + HEAD pointer swap),
  *   - append / create-or-replace writes with hive-style partitioning,
  *   - full scan of the current snapshot,
  *   - incremental scan of the rows appended in a snapshot-id range,
  *   - a `.history` metadata view,
  *   - MERGE (upsert) keyed on business columns — copy-on-write (rewrite
  *     matched files) or merge-on-read (equality-delete files + the
  *     after-image, zero rewrite) per the table's write.merge.mode /
  *     write.delete.mode properties (reference configures both:
  *     raw-bronze.py:161-172; runs COW: raw-bronze.py:207),
  *   - schema evolution (add/rename/drop column) as metadata-only
  *     commits, and VERSION/TIMESTAMP AS OF time travel.
  *
  * Scale design (targets a 1000-executor cluster / 100 TB, tested local):
  *   - All data movement is executor-side `DataFrame` reads/writes; the
  *     driver touches only file *names* (the manifest), never rows.
  *   - MERGE prunes to affected files by scanning ONLY the key columns
  *     (column-pruned Parquet scan + semi-join against the distinct source
  *     keys — AQE broadcasts the key set when small), then rewrites only
  *     the files that contain matched keys. Untouched files carry forward
  *     into the new snapshot unmodified.
  *   - Incremental scans read only the files added in the requested
  *     snapshot range — no re-scan of history (the reference's core trick,
  *     scripts/bronze-silver.py:149-152).
  *   - Commits are optimistic single-writer: exclusive-create of the new
  *     metadata file detects racing committers; the HEAD swap is a
  *     generation pointer's conditional create ([[PointerStore]]). (The
  *     reference's orchestration is strictly sequential,
  *     aws-step-function/step-function.json.)
  */
final class LakeTable private (
    val spark: SparkSession,
    val root: String) {

  import LakeTable._
  import DeleteArtifacts.{PFILE_COL, PIDX_COL}
  import GraftManifestFileIndex.{FRI_COL, SEQ_COL}

  // sessionState.newHadoopConf() folds runtime `spark.conf.set("fs...")`
  // entries on top of the core conf (same resolution as Spark's sources)
  private val hconf = spark.sessionState.newHadoopConf()
  // session-wide, once: the engine's optimizer rules (see
  // [[OptimizerRules]]) must reach every session that opens a table,
  // including sessions built outside [[graft.GraftSession]]
  OptimizerRules.install(spark)

  private val rootPath = new Path(root)
  private def fs: FileSystem = rootPath.getFileSystem(hconf)
  private val metaDir = new Path(rootPath, METADATA_DIR)
  private val dataDir = new Path(rootPath, DATA_DIR)
  private val headPath = new Path(metaDir, HEAD)

  // ---------------------------------------------------------------- metadata

  def currentSnapshotId: Option[Long] =
    readPointer(headPath).map(_.trim.toLong)

  /** Pointer swap/read protocol (see [[PointerStore]]). */
  private val pointerStore: PointerStore = PointerStore.forTable(fs)

  private def readPointer(p: Path): Option[String] = pointerStore.read(p)

  /** Version `id`'s snapshot doc (see [[ManifestIO.docName]]). */
  private def docPath(id: Long): Path =
    new Path(metaDir, ManifestIO.docName(id))

  private def requireDoc(id: Long): Unit =
    require(fs.exists(docPath(id)),
      s"snapshot $id not found in $root (expired or never committed)")

  /** Version `id`'s doc JSON; an expired or unknown id fails loudly. */
  private def readDoc(id: Long): String = {
    requireDoc(id)
    ManifestIO.readDoc(fs, metaDir, id)
  }

  /** Versions of every snapshot doc in `metadata/`, unsorted. */
  private def docIds: Seq[Long] =
    fs.listStatus(metaDir).toSeq.flatMap(s =>
      ManifestIO.docId(s.getPath.getName))

  def snapshot(id: Long): Snapshot = {
    requireDoc(id)
    // Materialized-snapshot cache: a v<id>.json.gz at-or-below HEAD is
    // immutable (commits only ever create NEW versions; the one file
    // that can be rewritten is a crashed commit's beyond-HEAD debris,
    // which is never cached). The existence check above still runs
    // first so an expired snapshot keeps failing after expiry. This
    // keeps the repeated `current` loads of a multi-step op from
    // re-materializing the per-file maps each time.
    val cached = snapCache.get(id)
    if (cached != null) return cached
    val json = ManifestIO.readDoc(fs, metaDir, id)
    // the doc's OWN inline chunks are in hand — seed the cache so
    // materializing it doesn't re-read the file per chunk (each seed
    // still counts as ONE cold chunk load for the pruning metric)
    ManifestIO.inlineChunksOf(json).foreach { case (n, e) =>
      if (chunkCache.putIfAbsent(n, e) == null)
        chunkLoads.incrementAndGet()
    }
    val s = ManifestIO.snapshotFromJson(json, loadChunk,
      chunkCache.containsKey)
    if (currentSnapshotId.exists(id <= _)) {
      // coarse bound: the access pattern is HEAD plus a few historical
      // reads; wholesale clear keeps the cache O(1)-ish without LRU
      // bookkeeping on a long-lived writer's 10⁴ commits
      if (snapCache.size >= 64) snapCache.clear()
      snapCache.put(id, s)
    }
    s
  }

  private val snapCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Snapshot]()

  /** Skeleton load of one snapshot doc — scalars + file DELTA + chunk
    * names, per-file maps left EMPTY, zero chunk loads (see
    * [[ManifestIO.listSkeleton]]). What range planning (incremental
    * scan, stream tailing) needs per snapshot; callers that touch
    * per-file state must use [[snapshot]]. A cached full snapshot
    * serves as its own skeleton. */
  private def snapshotSkeleton(id: Long): Snapshot = {
    val full = snapCache.get(id)
    if (full != null) return full
    val c = skelCache.get(id)
    if (c != null) return c
    val s = ManifestIO.listSkeleton(readDoc(id))
    if (currentSnapshotId.exists(id <= _)) {
      if (skelCache.size >= 256) skelCache.clear()
      skelCache.put(id, s)
    }
    s
  }

  private val skelCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Snapshot]()

  /** Manifest chunks are immutable once written (uuid-named, never
    * rewritten in place), so they cache safely across snapshot loads —
    * re-loading a snapshot re-reads only its small list JSON. */
  private val chunkCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[ManifestEntry]]()
  /** Cold chunk reads (cache misses) — observable by specs asserting
    * that summary-pruned scans load strictly fewer chunks. */
  private[lake] val chunkLoads = new java.util.concurrent.atomic.AtomicLong
  /** Inline delta chunks: `iv<hostVersion>-<k>.json.gz`, embedded in
    * their host snapshot doc at commit (zero extra creates); a real
    * (gzip) file of the same name exists only once expiry PROMOTED the
    * chunk past its host's death — the file, when present, wins. */
  private val InlineChunkRe = "^iv(\\d+)-\\d+\\.json\\.gz$".r
  private def loadChunk(name: String): Seq[ManifestEntry] =
    chunkCache.computeIfAbsent(name, { n =>
      chunkLoads.incrementAndGet()
      val p = new Path(metaDir, n)
      n match {
        case InlineChunkRe(vid) if !fs.exists(p) =>
          ManifestIO.inlineChunk(
              ManifestIO.readDoc(fs, metaDir, vid.toLong), n)
            .getOrElse(throw new IllegalStateException(
              s"chunk $n absent from both $metaDir and " +
                ManifestIO.docName(vid.toLong)))
        case _ => ManifestIO.readChunk(fs, p)
      }
    })

  def currentSnapshot: Option[Snapshot] = currentSnapshotId.map(snapshot)

  private def current: Snapshot = currentSnapshot.getOrElse(
    throw new IllegalStateException(s"table $root has no committed snapshot"))

  def schema: StructType =
    DataType.fromJson(current.schemaJson).asInstanceOf[StructType]

  /** Partition SPEC strings as committed (identity column names and/or
    * transform specs like `bucket(8, key)` — see [[PartitionSpec]]). */
  def partitionColumns: Seq[String] = current.partitionColumns

  /** Source columns of the CURRENT spec's identity partition fields —
    * the columns dynamic partition overwrite replaces by. */
  def identityPartitionColumns: Seq[String] =
    partitionFields.filter(_.isIdentity).map(_.source)

  private def partitionFields: Seq[PartitionSpec.Field] =
    PartitionSpec.parseAll(current.partitionColumns)

  /** Source columns of the current AND every historical partition spec
    * — rename/drop must refuse all of them (old-era files recover the
    * column from their directory layout by name). */
  private def specSources: Set[String] =
    current.specsOrDefault.values.flatten.toSeq
      .flatMap(s => PartitionSpec.parseAll(Seq(s))).map(_.source).toSet

  def properties: Map[String, String] = current.properties

  /** All retained snapshots, oldest → newest (linear history; early
    * snapshots may have been removed by [[expireSnapshots]]). Metadata
    * files beyond HEAD are orphans of a crashed commit (written but
    * never made current) and are excluded. */
  def snapshots: Seq[Snapshot] = {
    if (!fs.exists(metaDir)) return Nil
    val head = currentSnapshotId.getOrElse(return Nil)
    docIds.filter(_ <= head).sorted.map(snapshot)
  }

  /** Compact per-snapshot summaries for the metadata VIEWS (history /
    * snapshots): parsing N full `v<id>.json.gz` docs per query is
    * O(history) I/O — 1.2 s at 300 commits, tens of seconds at a
    * month of micro-batches — so summaries live in a single
    * `metadata/snaplog.json` CACHE. Snapshots are immutable, so cached
    * entries can never go stale; any reader reconciles the ids the
    * cache is missing (reads only THOSE v-jsons) and rewrites the
    * cache via write-to-temp + rename (best-effort: concurrent
    * writers both produce valid content, last rename wins, and a
    * reader that finds no cache just pays the reads it would have
    * paid anyway). Expiry rewrites the cache down to the retained
    * ids ([[expireWhere]]). */
  def snapshotSummaries: Seq[LakeTable.SnapSummary] = {
    val head = currentSnapshotId.getOrElse(return Nil)
    val ids = docIds.filter(_ <= head).sorted
    val cached = readSnaplog()
    val missing = ids.filterNot(cached.contains)
    val fresh = missing.map(id => id -> summaryOf(snapshot(id))).toMap
    val all = ids.map(id => cached.getOrElse(id, fresh(id)))
    if (missing.nonEmpty) writeSnaplog(all)
    all
  }

  private def summaryOf(s: Snapshot): LakeTable.SnapSummary =
    LakeTable.SnapSummary(s.snapshotId, s.parentId, s.timestampMs,
      s.operation, s.addedFiles.size.toLong, s.removedFiles.size.toLong,
      s.entries.size.toLong)

  private def snaplogPath = new Path(metaDir, "snaplog.json")

  private def readSnaplog(): Map[Long, LakeTable.SnapSummary] =
    try {
      if (!fs.exists(snaplogPath)) Map.empty
      else {
        val n = Snapshot.mapper.readTree(readString(fs, snaplogPath))
        n.path("entries").elements().asScala.map { e =>
          e.path("id").asLong() -> LakeTable.SnapSummary(
            e.path("id").asLong(),
            if (e.hasNonNull("parent")) Some(e.path("parent").asLong())
            else None,
            e.path("ts").asLong(), e.path("op").asText(),
            e.path("na").asLong(), e.path("nr").asLong(),
            e.path("nl").asLong())
        }.toMap
      }
    } catch { case _: Exception => Map.empty } // cache only — rebuild

  private def writeSnaplog(all: Seq[LakeTable.SnapSummary]): Unit =
    try {
      val m = Snapshot.mapper
      val rootN = m.createObjectNode()
      val arr = rootN.putArray("entries")
      all.foreach { s =>
        val e = arr.addObject()
        e.put("id", s.id)
        s.parentId.foreach(e.put("parent", _))
        e.put("ts", s.tsMs); e.put("op", s.op)
        e.put("na", s.nAdded); e.put("nr", s.nRemoved)
        e.put("nl", s.nLive)
      }
      val tmp = new Path(metaDir,
        s".snaplog-${UUID.randomUUID()}.json")
      writeStringExclusive(fs, tmp, m.writeValueAsString(rootN))
      fs.delete(snaplogPath, false)
      if (!fs.rename(tmp, snaplogPath)) fs.delete(tmp, false)
    } catch { case _: Exception => () } // cache only — never fail a read

  /** Metadata view ≡ Iceberg's `<table>.history`
    * (reference: scripts/bronze-silver.py:119,137). */
  def history: DataFrame = {
    val rows = snapshotSummaries.map { s =>
      Row(new java.sql.Timestamp(s.tsMs), s.id,
        s.parentId.map(Long.box).orNull, true, s.op)
    }
    val sch = StructType(Seq(
      StructField("made_current_at", TimestampType),
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_id", LongType),
      StructField("is_current_ancestor", BooleanType, nullable = false),
      StructField("operation", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), sch)
  }

  /** Metadata view ≡ Iceberg's `<table>.files`: one row per live data
    * file of the current snapshot — path, hive partition spec, data
    * sequence number, and the recorded per-column bounds (the manifest
    * information MERGE/DELETE prune against). Pure driver-side manifest
    * synthesis, zero data read — what an operator of a 100 TB table
    * inspects to see file layout, clustering, and prune-ability. */
  def files: DataFrame = {
    val snap = current
    // Executor-side manifest read: the chunk files ARE the table's file
    // inventory, so `.files` is a distributed JSON scan + explode — no
    // driver-side row materialization. At 10⁶ files that is a few
    // thousand chunk files read in parallel, not a 300 MB driver list.
    // file-backed chunks scan DISTRIBUTED (Spark gunzips the
    // `*.json.gz` chunk files by their extension); inline chunks
    // (small by the commit-path bound) parse driver-side from their
    // host docs and union in through the same JSON reader
    val (inline, backed) = snap.manifests.partition(n =>
      InlineChunkRe.matches(n) && !fs.exists(new Path(metaDir, n)))
    val backedDf =
      if (backed.isEmpty) None
      else Some(spark.read.option("multiLine", "true")
        .schema(CHUNK_READ_SCHEMA)
        .json(backed.map(n => new Path(metaDir, n).toString): _*))
    // an empty table (zero chunks) reads an empty inline set: same schema
    val inlineDf =
      if (inline.isEmpty && backed.nonEmpty) None
      else Some(spark.read.schema(CHUNK_READ_SCHEMA).json(
        spark.createDataset(inline.map(n =>
          ManifestIO.chunkToJson(loadChunk(n))))(
          org.apache.spark.sql.Encoders.STRING)))
    val parts = split(col("e.path"), "/")
    val entries = (backedDf.toSeq ++ inlineDf.toSeq).reduce(_ unionByName _)
      .select(explode(col("entries")).as("e"))
    // chunk entries of removed files stay behind their tombstones
    (if (snap.tombstones.isEmpty) entries
     else entries.where(!col("e.path").isin(snap.tombstones: _*)))
      .select(
        col("e.path").as("file_path"),
        // hive `col=value` segments between data/ and the file name
        array_join(slice(parts, lit(2), size(parts) - 2), "/")
          .as("partition"),
        col("e.seq").as("seq"),
        col("e.bytes").as("size_bytes"),
        col("e.rows").as("record_count"),
        // bloom/null-count pseudo-columns are pruning internals
        map_filter(coalesce(col("e.stats"), map().cast(BOUNDS_TYPE)),
          (k, _) => !k.startsWith(BloomStats.Prefix) &&
            !k.startsWith(FileStats.NullsPrefix)).as("bounds"))
  }

  /** Metadata view ≡ Iceberg's `<table>.snapshots`: one row per retained
    * snapshot with its commit delta sizes. Driver-side, zero data read. */
  def snapshotsTable: DataFrame = {
    val sch = StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_id", LongType),
      StructField("committed_at", TimestampType),
      StructField("operation", StringType),
      StructField("n_added_files", LongType, nullable = false),
      StructField("n_removed_files", LongType, nullable = false),
      StructField("n_live_files", LongType, nullable = false)))
    val rows = snapshotSummaries.map { s =>
      Row(s.id, s.parentId.map(Long.box).orNull,
        new java.sql.Timestamp(s.tsMs), s.op,
        s.nAdded, s.nRemoved, s.nLive)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), sch)
  }

  /** Metadata view ≡ Iceberg's `<table>.partitions`: one row per live
    * hive partition with its file count and data-sequence range — the
    * operator's view of partition balance and compaction debt.
    * Driver-side manifest aggregation, zero data read. */
  def partitions: DataFrame =
    // executor-side aggregation over the chunk-backed `.files` view
    files.groupBy(col("partition")).agg(
      count(lit(1)).as("file_count"),
      min(col("seq")).as("min_seq"),
      max(col("seq")).as("max_seq"),
      sum(col("size_bytes")).as("total_bytes"),
      sum(col("record_count")).as("total_rows"))

  /** Metadata view ≡ Iceberg's `<table>.refs`: the named snapshot
    * pointers (tags/branches). Driver-side, O(refs). */
  def refsTable: DataFrame = {
    val sch = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false)))
    val rows = refs.toSeq.sortBy(_._1).map { case (n, (tpe, id)) =>
      Row(n, tpe, id)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), sch)
  }

  /** Metadata view ≡ Iceberg's `<table>.manifests`: one row per
    * manifest chunk of the current snapshot with its entry count —
    * the operator's view of metadata-layer health (chunk count should
    * track table size / fold policy, not commit count). `entry_count`
    * counts the chunk's LIVE entries (tombstoned ones excluded), from
    * the immutable-chunk cache; O(chunks) driver rows. */
  def manifestsTable: DataFrame = {
    val snap = current
    val sch = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("entry_count", LongType, nullable = false)))
    val dead = snap.tombstones.toSet
    val rows = snap.manifests.map(n =>
      Row(s"$METADATA_DIR/$n",
        loadChunk(n).count(e => !dead(e.path)).toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), sch)
  }

  // ------------------------------------------------------------------- reads

  /** Full scan of the current snapshot (≡ reading the Iceberg table,
    * reference: scripts/bronze-silver.py:135). Filters/projections pushed
    * by Catalyst reach the Parquet scan as usual. */
  def scan(): DataFrame = readFiles(current.liveFiles)

  private[lake] def rowLineageEnabled: Boolean =
    properties.get(PROP_ROW_LINEAGE).contains("true")

  /** [[scan]] plus the stable `_row_id` lineage column (Iceberg v3
    * row lineage): ids are assigned ONCE at first commit — per-file
    * `first_row_id` blocks carved from the `row.next-id` counter, so
    * appends store NOTHING per row — and survive every COW rewrite
    * (merge/update/delete/compaction materialize the carried ids
    * physically in the rewritten files). An updated row keeps its id;
    * an inserted row gets a fresh one. MOR after-images are NEW rows
    * and get fresh ids (carrying would require reading the matched
    * target rows, which merge-on-read exists to avoid). Requires the
    * table to have been CREATED with `write.row-lineage=true`. */
  def scanWithLineage(): DataFrame = {
    require(rowLineageEnabled,
      s"table $root has no row lineage — create it with " +
        s"$PROP_ROW_LINEAGE=true")
    val base = current
    readFilesAs(base, base.liveFiles, withLineage = true)
  }

  /** Read `files` for a COW REWRITE: on a lineage table each row
    * carries its resolved `_row_id`, so [[writeDataFiles]] persists
    * the ids physically and the rewrite preserves them. */
  private def readFilesForRewrite(ctx: Snapshot,
      files: Seq[String]): DataFrame =
    readFilesAs(ctx, files, withLineage = rowLineageEnabled)

  /** RUNTIME-FILTERED scan for a key-equality join (≡ Iceberg/Delta
    * dynamic file pruning): before planning a `fact ⋈ dim` join, prune
    * this table's FILE LIST against the join side's actual key set —
    * per-file key bounds, hidden-partition transforms (a `bucket(N)`
    * table drops to the source keys' buckets), and per-file Bloom
    * filters all apply, via the same stack MERGE/DELETE use. Costs one
    * tiny agg over `source`'s keys (+ a capped hash collect when Blooms
    * exist) and a driver-side manifest walk — no table data is read.
    *
    * A dropped file provably contains NO row matching any source key, so
    * `scanForJoin(dim, keys).join(dim, keys)` ≡ `scan().join(dim, keys)`
    * — but on a 100 TB fact table with a selective dim the scan opens
    * only the matching sliver of files, the pruning Catalyst alone
    * cannot do (the dim's key set is a runtime value). Rows from kept
    * files still need the join itself to filter non-matching rows. */
  def scanForJoin(source: DataFrame, keys: Seq[String]): DataFrame = {
    val base = current
    readFilesAs(base, pruneByStats(base, source, keys))
  }

  /** Pruned scan: `predicate` both filters rows AND prunes the FILE LIST
    * driver-side against the manifest before Spark ever lists a file —
    * per-file column bounds, identity partition values, and bucket-hash
    * equality (hidden partitioning) all apply. This is the read-side
    * analogue of the MERGE/DELETE pruning: on a `bucket(N, key)` table,
    * `scan(col("key") === k)` opens 1/N of the files, which Catalyst
    * alone cannot do (the derived partition value is hidden from it).
    * Semantics are identical to `scan().where(predicate)`. */
  def scan(predicate: org.apache.spark.sql.Column): DataFrame = {
    val base = currentPrunedFor(predicate)
    readFilesAs(base, pruneByPredicate(base, predicate)).where(predicate)
  }

  /** HEAD snapshot for a predicate-pruned read, materializing only the
    * manifest chunks whose list-level summaries ([[Snapshot
    * .manifestSummaries]]) could hold a matching file. On a cold table
    * handle this caps the driver cost of a selective scan at
    * O(surviving chunks) instead of O(live files) — the 10⁸-file
    * analogue of Iceberg planning from manifest-list partition
    * summaries. Falls back to the fully-materialized snapshot when it
    * is already cached (free), carries no chunk summaries, or the
    * predicate does not analyze; a partial snapshot is never cached. */
  private def currentPrunedFor(
      predicate: org.apache.spark.sql.Column): Snapshot = {
    val id = currentSnapshotId.getOrElse(
      throw new IllegalStateException(
        s"table $root has no committed snapshot"))
    if (snapCache.get(id) != null) return snapshot(id)
    val skel = ManifestIO.listSkeleton(readDoc(id))
    if (skel.manifestSummaries.isEmpty) return snapshot(id)
    val sch = DataType.fromJson(skel.schemaJson).asInstanceOf[StructType]
    PredicatePruning.analyze(spark, predicate, sch) match {
      case Some(cond) =>
        val kept = PredicatePruning.candidateFiles(cond, sch,
          skel.manifests, skel.manifestSummaries.get)
        if (kept.sizeIs >= skel.manifests.size) snapshot(id)
        else ManifestIO.materializePartial(skel, kept, loadChunk,
          chunkCache.containsKey)
      case None => snapshot(id)
    }
  }

  /** Exact row count. With no equality/position deletes outstanding,
    * the answer comes from the MANIFEST alone — the sum of the live
    * entries' row counts, zero data-file I/O, zero Spark jobs
    * (≡ Iceberg answering `COUNT(*)` from manifest `record_count`s). At
    * 100 TB that is the difference between a metadata lookup and a
    * full-table scan for the most common health probe a pipeline runs.
    * Outstanding deletes (their suppressed-row count is unknowable
    * without reading them) fall back to `scan().count()`. */
  def countRows(): Long = {
    val s = current
    if (s.deletes.isEmpty) s.entries.valuesIterator.map(_.info.rows).sum
    else scan().count()
  }

  /** Rows appended in snapshot range `(startExclusive, endInclusive]`
    * (≡ Iceberg incremental read, reference: scripts/bronze-silver.py:149-152).
    * Append-only ranges only, matching Iceberg's contract — a snapshot
    * produced by overwrite/merge in the range is an error. */
  def incrementalScan(startExclusive: Long, endInclusive: Long,
      skipNonAppends: Boolean = false): DataFrame = {
    require(endInclusive >= startExclusive,
      s"bad snapshot range ($startExclusive, $endInclusive]")
    // SKELETONS for the range (op + file delta, no per-file maps, no
    // chunk loads): the plan only needs each snapshot's addedFiles;
    // the one FULL materialization is the range-end context below.
    // A streaming tail at commit depth otherwise pays O(range × table)
    // doc+chunk parsing PER MICRO-BATCH for state it never reads.
    val all = ((startExclusive + 1) to endInclusive).map(snapshotSkeleton)
    // evolve-schema/evolve-spec commits add no data rows — they are
    // transparent to an incremental range (added files still read under
    // the current schema; spec eras are grouped per file)
    def appendShaped(s: Snapshot): Boolean =
      s.operation == "append" || s.operation == "create" ||
        s.operation == "add-files" || // an import adds, removes nothing
        s.operation == "evolve-schema" || s.operation == "evolve-spec" ||
        s.operation == "set-properties" || s.operation == "unset-properties"
    val snaps =
      if (skipNonAppends) all // non-append snapshots contribute no files
      else {
        all.find(!appendShaped(_)).foreach { s =>
          throw new UnsupportedOperationException(
            s"incremental scan over non-append snapshot ${s.snapshotId} " +
              s"(${s.operation}) — append-only ranges are supported, " +
              "matching Iceberg's incremental-read contract " +
              "(pass skipNonAppends=true to tail appends only)")
        }
        all
      }
    // end-of-range context: the added files are all live there, so its
    // schema and rename mappings are exactly the ones they carry.
    // With skipNonAppends, only files still live at range end are read
    // (a merge inside the range may have rewritten an earlier append's
    // file — its rows arrive via that file's replacement, or not at
    // all if deleted; tailing semantics, same as Iceberg's
    // streaming-skip-overwrite-snapshots).
    if (snaps.isEmpty) readFilesAs(current, Nil)
    else {
      val ctx = snapshot(snaps.last.snapshotId) // the ONE full load
      val added =
        if (!skipNonAppends) snaps.flatMap(_.addedFiles)
        else {
          val live = ctx.liveFiles.toSet
          snaps.filter(appendShaped).flatMap(_.addedFiles).filter(live)
        }
      readFilesAs(ctx, added)
    }
  }

  /** Row-level changelog of snapshot range `(startExclusive,
    * endInclusive]` (≡ Iceberg's `create_changelog_view` CDC read):
    * emits every row the range inserted or deleted, tagged with
    * `_change_type` ('insert' | 'delete') and `_commit_snapshot_id`.
    *
    * Per commit, cost ∝ its FILE DELTA, never table size: inserts =
    * rows of its added files EXCEPT ALL rows of its removed files
    * (byte-identical carried rows cancel — a COW rewrite's untouched
    * rows produce nothing), deletes = the reverse. A commit that adds
    * equality/position delete files — or removes them, as a rollback
    * can — additionally diffs the carried files' visibility in both
    * directions (suppressed pre-image rows as deletes, resurrected rows
    * as inserts) — the one case whose cost is the carried files' size,
    * same as Iceberg. `compact` and `rewrite-deletes` (delete-artifact
    * maintenance) are content-neutral by construction and read and
    * emit nothing; a schema-changing commit in range (evolve-schema, or
    * a rollback across an evolution) is rejected — a changelog needs one
    * row shape.
    */
  def changes(startExclusive: Long, endInclusive: Long): DataFrame =
    changesInternal(startExclusive, endInclusive, lineage = false)

  /** [[changes]] with ROW IDENTITY (requires `write.row-lineage`):
    * each change row carries its `_row_id`, and a COW rewrite's
    * modified rows are classified `update_preimage`/`update_postimage`
    * instead of an anonymous delete+insert pair — the Delta-CDF change
    * vocabulary, derivable only because the rewrite preserved ids.
    * Rows without ids (written pre-enablement) and MOR after-images
    * (new row identity by design) stay plain insert/delete. Cost: two
    * id-keyed semi/anti joins per commit over the commit's OWN delta —
    * still ∝ changed rows, never table size. */
  def changesWithLineage(startExclusive: Long,
      endInclusive: Long): DataFrame = {
    require(rowLineageEnabled,
      s"table $root has no row lineage — create it with " +
        s"$PROP_ROW_LINEAGE=true")
    changesInternal(startExclusive, endInclusive, lineage = true)
  }

  private def changesInternal(startExclusive: Long, endInclusive: Long,
      lineage: Boolean): DataFrame = {
    require(endInclusive >= startExclusive,
      s"bad snapshot range ($startExclusive, $endInclusive]")
    val snaps = ((startExclusive + 1) to endInclusive).map(snapshot)
    snaps.foreach { s =>
      val parentSchema = s.parentId.map(p => snapshot(p).schemaJson)
      if (parentSchema.exists(_ != s.schemaJson))
        throw new UnsupportedOperationException(
          s"changelog over schema-changing ${s.operation} snapshot " +
            s"${s.snapshotId} is not supported (one row shape per range)")
    }
    val sch = schema
    val outSchema = StructType(sch.fields ++
      (if (lineage) Seq(StructField(ROW_ID_COL, LongType)) else Nil) ++
      Seq(
        StructField(CHANGE_TYPE_COL, StringType, nullable = false),
        StructField(CHANGE_SNAP_COL, LongType, nullable = false)))
    def tag(df: DataFrame, tpe: String, id: Long): DataFrame =
      df.withColumn(CHANGE_TYPE_COL, lit(tpe))
        .withColumn(CHANGE_SNAP_COL, lit(id))
    // lineage classification by ID-KEYED JOIN: a row id on BOTH sides
    // of a commit's delta is the same row (the rewrite preserved its
    // id) — same content means CARRIED (emits nothing, the join's own
    // null-safe struct compare cancels it), different content means
    // update pre/post images; one-sided ids are genuine inserts /
    // deletes. One 8-byte-keyed full-outer join replaces the two
    // FULL-ROW-HASH set differences AND the id-partitioned window the
    // previous formulation paid (three wide shuffles → one slim one).
    // Id-less rows (pre-lineage files, MOR after-images — new row
    // identity by design) cannot key a join; they keep the
    // content-cancelling exceptAll pair over their own isNull subset,
    // which prunes to ~nothing on a lineage-from-birth table.
    def classify(post: DataFrame, pre: DataFrame,
        id: Long): Seq[DataFrame] = {
      val dataCols = post.columns.filter(_ != ROW_ID_COL).toSeq
      val img = struct(dataCols.map(col): _*)
      // variant admits no comparison (Spark pins it unorderable), so
      // the CHANGE TEST compares each variant-bearing column's
      // canonical JSON text; the carried image keeps original values.
      // Variant-free tables (the common case) compare the carried
      // image directly — shipping a second identical struct through
      // the join would double the shuffle width for nothing.
      val types = post.schema.fields.map(f => f.name -> f.dataType).toMap
      val needCmp = dataCols.exists(c =>
        LakeTable.containsVariant(types(c)))
      val imgCmp = struct(dataCols.map(c =>
        if (LakeTable.containsVariant(types(c))) to_json(col(c)).as(c)
        else col(c)): _*)
      def side(df: DataFrame, imgName: String,
          cmpName: String): DataFrame =
        df.where(col(ROW_ID_COL).isNotNull)
          .select(Seq(col(ROW_ID_COL), img.as(imgName)) ++
            (if (needCmp) Seq(imgCmp.as(cmpName)) else Nil): _*)
      val p = side(post, "__graft_post", "__graft_postc")
      val q = side(pre, "__graft_pre", "__graft_prec")
      val changed = p.join(q, Seq(ROW_ID_COL), "full_outer")
        .where(
          if (needCmp) !(col("__graft_postc") <=> col("__graft_prec"))
          else !(col("__graft_post") <=> col("__graft_pre")))
      // each surviving id yields its present sides in one pass
      val rows = changed.select(col(ROW_ID_COL), explode(array(
          when(col("__graft_post").isNotNull, struct(
            col("__graft_post").as("img"),
            when(col("__graft_pre").isNotNull,
              lit("update_postimage")).otherwise(lit("insert"))
              .as("t"))),
          when(col("__graft_pre").isNotNull, struct(
            col("__graft_pre").as("img"),
            when(col("__graft_post").isNotNull,
              lit("update_preimage")).otherwise(lit("delete"))
              .as("t"))))).as("__graft_e"))
        .where(col("__graft_e").isNotNull)
        .select(dataCols.map(c =>
            col("__graft_e.img").getField(c).as(c)) ++ Seq(
          col(ROW_ID_COL),
          col("__graft_e.t").as(CHANGE_TYPE_COL),
          lit(id).as(CHANGE_SNAP_COL)): _*)
      val postNull = post.where(col(ROW_ID_COL).isNull)
      val preNull = pre.where(col(ROW_ID_COL).isNull)
      Seq(rows,
        tag(LakeTable.exceptAllVariantSafe(postNull, preNull),
          "insert", id),
        tag(LakeTable.exceptAllVariantSafe(preNull, postNull),
          "delete", id))
    }
    val parts = snaps.filterNot(s => Seq("compact", "create",
      "rewrite-deletes").contains(s.operation)).flatMap { s =>
      val prev = snapshot(s.parentId.get)
      val post = readFilesAs(s, s.addedFiles, withLineage = lineage)
      val pre = readFilesAs(prev, s.removedFiles, withLineage = lineage)
      // the exceptAll pair cancels rows a rewrite carried over; a
      // one-sided commit (pure append / metadata delete) has nothing
      // to cancel — skip the two set-difference shuffles entirely
      // (what makes an append-heavy changelog consumer like the
      // incremental-MV refresh scan-speed instead of shuffle-bound)
      val base =
        if (s.removedFiles.isEmpty) Seq(tag(post, "insert", s.snapshotId))
        else if (s.addedFiles.isEmpty) Seq(tag(pre, "delete", s.snapshotId))
        else if (lineage)
          classify(post, pre, s.snapshotId)
        else
          // one signed-count diff replaces the exceptAll PAIR: half
          // the wide shuffles, half the post/pre scans (guide §2.3)
          Seq(LakeTable.symmetricDiffTagged(post, pre, s.snapshotId))
      // a changed delete STATE alters carried files' visibility with no
      // file delta: diff it in both directions — added delete artifacts
      // suppress pre-image rows (deletes), removed ones (rollback)
      // resurrect rows (inserts). After-image files are s.addedFiles —
      // excluded here, so an upsert's own inserts are not re-counted.
      if (s.deletes == prev.deletes) base
      else {
        val carried = s.liveFiles.intersect(prev.liveFiles)
        val before = readFilesAs(prev, carried, withLineage = lineage)
        val after = readFilesAs(s, carried, withLineage = lineage)
        // rows only in `after` are resurrections (inserts), rows only
        // in `before` are newly-suppressed (deletes) — one diff pass
        base ++ Seq(
          LakeTable.symmetricDiffTagged(after, before, s.snapshotId))
      }
    }
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    else parts.reduce(_ unionByName _)
  }

  /** Time travel: full scan of the table as of `snapshotId`
    * (≡ Iceberg `VERSION AS OF` / `snapshot-id` read option). Snapshot
    * metadata is immutable, so this is just a manifest lookup — no data
    * movement until an action runs. Reads with THAT snapshot's schema
    * (pre-evolution travel sees pre-evolution columns). */
  def scanAt(snapshotId: Long): DataFrame = {
    val s = snapshot(snapshotId)
    readFilesAs(s, s.liveFiles)
  }

  /** Time travel by wall-clock: the snapshot current AS OF `tsMillis`
    * (≡ Iceberg `TIMESTAMP AS OF` — a `.history`/`made_current_at`
    * manifest lookup, reference: scripts/bronze-silver.py:119,137). */
  def scanAtTimestamp(tsMillis: Long): DataFrame = {
    val s = snapshots.filter(_.timestampMs <= tsMillis).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot of $root made current at or before $tsMillis"))
    readFilesAs(s, s.liveFiles)
  }

  // ---------------------------------------------------------- named refs

  /** Named snapshot refs (≡ Iceberg branches/tags, the retention
    * feature of the reference's format-version-2 stack): a TAG is an
    * immutable pointer, a BRANCH a movable one ([[updateRef]]).
    * Ref'd snapshots — and transitively their files and manifest
    * chunks — are PROTECTED from [[expireSnapshots]] until the ref is
    * dropped, and readable by name via `scanRef` / SQL
    * `VERSION AS OF 'name'`. Stored in `metadata/refs.json`, swapped
    * atomically (tmp + rename); ref edits are last-writer-wins —
    * they never race data commits, which touch only HEAD. */
  def refs: Map[String, (String, Long)] = {
    val body = readPointer(refsPath).getOrElse(return Map.empty)
    val n = Snapshot.mapper.readTree(body)
    n.properties().asScala.map { e =>
      e.getKey -> (e.getValue.path("type").asText(),
        e.getValue.path("snapshot_id").asLong())
    }.toMap
  }

  /** Cheap change stamp for HEAD-PRESERVING metadata mutations — ref
    * edits (create_tag / create_branch / drop_ref) rewrite refs.json
    * without moving HEAD, and expire_snapshots deletes v<id>.json.gz
    * docs (direct children of the metadata dir, so the dir mtime
    * bumps). The catalog's view-registration ledger keys on this in
    * addition to HEAD so `t_refs` / `t_snapshots` / `t_history` temp
    * views never serve pre-mutation state from cache. Content hash of
    * refs (one small read) + the snapshot-doc population (count and max id
    * from one directory listing): mtime granularity is 1 s on many
    * filesystems, so an expire within the same tick as the last view
    * registration would be invisible to an mtime stamp — the version-
    * file census changes on EVERY commit or expire regardless of
    * clock resolution. Two fs calls, cross-process visible. */
  def metadataStamp: (Long, Long) = {
    val vs =
      try docIds
      catch { case _: java.io.IOException => Seq.empty[Long] }
    (refs.hashCode.toLong,
      if (vs.isEmpty) 0L else vs.size.toLong * 1000003L + vs.max)
  }

  def createTag(name: String, snapshotId: Long): Unit =
    putRef(name, "tag", snapshotId, replace = false)

  def createBranch(name: String, snapshotId: Long): Unit =
    putRef(name, "branch", snapshotId, replace = false)

  /** Move a BRANCH to a new snapshot (tags are immutable). */
  def updateRef(name: String, snapshotId: Long): Unit = {
    val cur = refs.getOrElse(name,
      throw new IllegalArgumentException(s"no ref $name on $root"))
    require(cur._1 == "branch", s"ref $name is a tag (immutable)")
    putRef(name, "branch", snapshotId, replace = true)
  }

  def dropRef(name: String): Unit = writeRefs(refs - name)

  /** Scan the snapshot a named ref points at. */
  def scanRef(name: String): DataFrame =
    scanAt(refs.getOrElse(name, throw new IllegalArgumentException(
      s"no ref $name on $root"))._2)

  private def putRef(name: String, tpe: String, snapshotId: Long,
      replace: Boolean): Unit = {
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"bad ref name '$name' (all-digit names collide with version ids)")
    val cur = refs
    require(replace || !cur.contains(name),
      s"ref $name already exists on $root")
    snapshot(snapshotId) // throws if the target is expired/unknown
    writeRefs(cur + (name -> (tpe, snapshotId)))
  }

  private def writeRefs(rs: Map[String, (String, Long)]): Unit = {
    val m = Snapshot.mapper
    val n = m.createObjectNode()
    rs.toSeq.sortBy(_._1).foreach { case (name, (tpe, id)) =>
      val o = n.putObject(name)
      o.put("type", tpe); o.put("snapshot_id", id)
    }
    pointerStore.write(refsPath,
      m.writerWithDefaultPrettyPrinter().writeValueAsString(n))
  }

  private def refsPath = new Path(metaDir, REFS)

  // ------------------------------------------ write-audit-publish (WAP)

  private def stagedDir = new Path(metaDir, "staged")
  private def stagedPath(wapId: String) = new Path(stagedDir, s"$wapId.json")

  /** Stage an append WITHOUT committing it (≡ Iceberg's write-audit-
    * publish: `wap.id` staging + cherry-pick): data files are written
    * and their manifest entries parked under `metadata/staged/<wapId>
    * .json`, invisible to every reader until [[publishStaged]] commits
    * them — a file-level cherry-pick, zero data rewrite — or
    * [[discardStaged]] drops them. Audit the parked rows with
    * [[scanStaged]]. Staged files are protected from
    * [[removeOrphanFiles]]; publish refuses if the schema or partition
    * spec evolved since staging (the parked files were written under
    * the old layout — re-stage instead). */
  def stageAppend(df: DataFrame, wapId: String): Unit = {
    require(wapId.nonEmpty && wapId.matches("[A-Za-z0-9._-]+"),
      s"bad wap id '$wapId'")
    require(!fs.exists(stagedPath(wapId)),
      s"staged changeset $wapId already exists on $root")
    val base = current
    val entries = writeDataFiles(distributeForWrite(alignToSchema(df)))
      .entries.map(_.copy(specId = base.currentSpecId))
    val m = Snapshot.mapper
    val n = m.createObjectNode()
    n.put("schema_json", base.schemaJson)
    n.put("spec_id", base.currentSpecId)
    n.set[com.fasterxml.jackson.databind.JsonNode]("chunk",
      ManifestIO.chunkNode(entries))
    fs.mkdirs(stagedDir)
    writeStringExclusive(fs, stagedPath(wapId), m.writeValueAsString(n))
  }

  /** Ids of every staged-but-unpublished changeset. */
  def stagedIds: Seq[String] = {
    if (!fs.exists(stagedDir)) return Nil
    fs.listStatus(stagedDir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).sorted
  }

  /** (schemaJson, specId, entries, sources). `sources` is non-empty
    * only for `add_files` IMPORT markers: dest rel-path → absolute
    * source path of the rename that carried the file in. */
  private def readStaged(wapId: String)
      : (String, Long, Seq[ManifestEntry], Map[String, String]) = {
    require(fs.exists(stagedPath(wapId)),
      s"no staged changeset $wapId on $root")
    val m = Snapshot.mapper
    val n = m.readTree(readString(fs, stagedPath(wapId)))
    val sources = Option(n.get("sources")).map { s =>
      s.properties().asScala.map(e => e.getKey -> e.getValue.asText())
        .toMap
    }.getOrElse(Map.empty)
    (n.path("schema_json").asText(), n.path("spec_id").asLong(),
      ManifestIO.chunkFromNode(n.get("chunk"), stagedPath(wapId).getName),
      sources)
  }

  /** The parked rows of a staged changeset (for auditing). */
  def scanStaged(wapId: String): DataFrame = {
    val (schemaJson, _, entries, _) = readStaged(wapId)
    val base = current
    require(schemaJson == base.schemaJson,
      s"staged changeset $wapId predates a schema evolution — " +
        "discard and re-stage")
    // the parked entries read as the publishing commit will stamp them:
    // a sequence above every outstanding equality delete
    val parked = entries.map(_.copy(seq = base.snapshotId + 1))
    readFilesAs(base.copy(entries =
        base.entries ++ parked.map(e => e.path -> e)),
      parked.map(_.path))
  }

  /** Every table-relative data path RETAINED HISTORY has ever seen:
    * the head's live set plus each retained snapshot's added and
    * removed lists. The committed-ness test for import-marker recovery
    * — a path in this set reached the table by a real commit, even if
    * a later COW rewrite or compaction removed it from the live set
    * (its file may still exist on disk until expiry, so "dest exists"
    * proves nothing and "not live" does NOT mean "never committed"). */
  private def historyPaths: Set[String] = {
    val snaps = snapshots
    (current.liveFiles.iterator ++
      snaps.iterator.flatMap(s => s.addedFiles.iterator ++
        s.removedFiles.iterator)).toSet
  }

  /** Commit a staged changeset: its already-written files join the table
    * as a normal append (declaratively retry-safe like [[append]] — the
    * files are fresh, every interleaved same-layout commit commutes).
    *
    * For an `add_files` IMPORT marker (crash recovery), the move is
    * completed first: any entry whose dest file is missing is renamed
    * in from its recorded source — the manifest must never commit a
    * path that does not exist. A marker whose entries already appear
    * in RETAINED HISTORY (crash between the import's commit and its
    * marker cleanup — even if a later rewrite removed them from the
    * live set) only clears the marker — never double-adds or
    * resurrects. A marker whose entries appear partially (possible
    * only once expiry has dropped the import commit itself) is
    * ambiguous: recovery refuses rather than guess. The fully-expired
    * marker (entries in NO retained history — indistinguishable by
    * file state from a fresh pre-commit crash, whose recovery must
    * stay automatic) cannot arise: [[expireWhere]] clears committed
    * imports' markers before destroying their history evidence. */
  def publishStaged(wapId: String): Long = {
    val (schemaJson, specId, entries, sources) = readStaged(wapId)
    if (sources.nonEmpty) {
      val seen = historyPaths
      val seenN = entries.count(e => seen(e.path))
      if (seenN == entries.size) {
        fs.delete(stagedPath(wapId), false)
        return current.snapshotId
      }
      require(seenN == 0, s"import $wapId: $seenN/${entries.size} " +
        "entries already appear in retained history — the import " +
        "committed and was partially expired/rewritten; refusing to " +
        "re-commit (clear the marker manually after auditing)")
      entries.foreach { e =>
        val dest = new Path(rootPath, e.path)
        if (!fs.exists(dest)) {
          val src = new Path(sources.getOrElse(e.path,
            throw new IllegalStateException(
              s"import $wapId: no recorded source for ${e.path}")))
          require(fs.exists(src),
            s"import $wapId: ${e.path} missing at both $dest and $src")
          fs.mkdirs(dest.getParent)
          if (!fs.rename(src, dest))
            throw new java.io.IOException(s"rename $src -> $dest failed")
        }
      }
    }
    val id = commitWithRetry(current)() { b =>
      require(b.schemaJson == schemaJson && b.currentSpecId == specId,
        s"staged changeset $wapId predates a schema or partition-spec " +
          "evolution — discard and re-stage")
      commit(b, "append", added = entries, removed = Nil)
    }
    fs.delete(stagedPath(wapId), false)
    id
  }

  /** Drop a staged changeset and its parked data files.
    *
    * An `add_files` IMPORT marker's dest files are the ONLY copy (they
    * arrived by rename, not copy) — discard moves them BACK to their
    * recorded source paths instead of deleting. A marker whose entries
    * already appear in RETAINED HISTORY (crash after the import's
    * commit — including entries a later rewrite removed from the live
    * set but whose files time travel still reads) only clears the
    * marker: the files belong to the table now, and renaming them out
    * would break reads of the snapshots that reference them. */
  def discardStaged(wapId: String): Unit = {
    val (_, _, entries, sources) = readStaged(wapId)
    if (sources.nonEmpty) {
      val seen = historyPaths
      val seenPaths = entries.map(_.path).filter(seen)
      if (seenPaths.nonEmpty) {
        require(seenPaths.size == entries.size, s"import $wapId is " +
          s"partially committed (${seenPaths.size}/${entries.size} " +
          "entries in retained history) — refusing discard; " +
          "publish_staged to recover")
        fs.delete(stagedPath(wapId), false)
        return
      }
      entries.foreach { e =>
        val dest = new Path(rootPath, e.path)
        if (fs.exists(dest)) {
          val src = new Path(sources.getOrElse(e.path,
            throw new IllegalStateException(
              s"import $wapId: no recorded source for ${e.path}")))
          fs.mkdirs(src.getParent)
          if (!fs.rename(dest, src))
            throw new java.io.IOException(s"rename $dest -> $src failed")
        }
      }
    } else deleteAll(entries.map(e => new Path(rootPath, e.path)))
    fs.delete(stagedPath(wapId), false)
  }

  // ------------------------------------------------- staging branches

  /** Append-only STAGING BRANCHES on the WAP parking machinery —
    * Iceberg's audit-branch workflow (`spark.wap.branch`): each
    * [[appendToBranch]] parks one changeset in the branch's namespace,
    * so the branch accumulates an ordered series of audited appends
    * that table readers never see; [[fastForwardBranch]] publishes the
    * WHOLE series as ONE atomic commit (all files land in a single
    * snapshot — downstream incremental consumers see one batch);
    * [[discardBranch]] drops everything parked. [[scanBranch]] previews
    * table ∪ parked changesets — exactly what the table will read
    * after the fast-forward. Branch-side row-level ops (merge/delete
    * over parked state) are out of scope by design: stage, audit,
    * publish-or-discard. Distinct from the named snapshot REFS
    * ([[createBranch]]): a ref is a movable pointer over committed
    * history; a staging branch holds uncommitted future state. */
  private def branchPrefix(name: String) = s"b.$name."

  /** Park `df` as the branch's next changeset; returns the changeset
    * id. Ordinals are allocated optimistically — a racing writer's
    * collision on the exclusive create retries with the next slot. */
  def appendToBranch(name: String, df: DataFrame): String = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9_-]+"),
      s"bad branch name '$name'")
    var attempt = 0
    while (attempt < 50) {
      val next = branchChangesets(name)
        .flatMap(id => scala.util.Try(
          id.stripPrefix(branchPrefix(name)).toLong).toOption)
        .maxOption.getOrElse(0L) + 1
      val id = f"b.$name.$next%06d"
      try { stageAppend(df, id); return id }
      catch {
        // lost the ordinal race (pre-check or exclusive create):
        // re-list and take the next slot
        case _: IllegalArgumentException => attempt += 1
        case _: java.io.IOException => attempt += 1
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"branch $name changeset allocation contended beyond 50 attempts")
  }

  /** The branch's parked changeset ids, in publish order. */
  def branchChangesets(name: String): Seq[String] =
    stagedIds.filter(_.startsWith(branchPrefix(name))).sorted

  /** Preview: the table as it will read after [[fastForwardBranch]]. */
  def scanBranch(name: String): DataFrame =
    branchChangesets(name).foldLeft(scan())(
      (acc, id) => acc.unionByName(scanStaged(id)))

  /** Publish every parked changeset of the branch in ONE atomic append
    * commit and clear the branch. Like [[publishStaged]], refuses if
    * any changeset predates a schema or partition-spec evolution.
    *
    * `txn` (appId, version) makes the publish IDEMPOTENT on the same
    * `txn.$appId` watermark as [[appendOnce]]: a replay that finds its
    * watermark already committed only clears leftover staged markers —
    * the roll-forward contract the catalog's multi-table transaction
    * recovery relies on (a crash between this commit and the staged-
    * file cleanup must not double-publish on recovery). */
  def fastForwardBranch(name: String,
      txn: Option[(String, Long)] = None,
      dropProperties: Snapshot => Set[String] = _ => Set.empty): Long = {
    val ids = branchChangesets(name)
    def watermarked(s: Snapshot): Boolean = txn.exists { case (app, v) =>
      s.properties.get(s"txn.$app").exists(_.toLong >= v) ||
        // pre-versioned watermark format (txn.ctxn-<app>-<v>): a batch
        // committed by the old per-batch-id scheme must still skip on
        // an upgrade-spanning replay
        s.properties.contains(s"txn.ctxn-$app-$v")
    }
    val base = current
    if (watermarked(base)) {
      ids.foreach(i => fs.delete(stagedPath(i), false))
      return base.snapshotId
    }
    require(ids.nonEmpty, s"no staged changesets on branch $name on $root")
    val loaded = ids.map(readStaged)
    val entries = loaded.flatMap(_._3)
    val id = commitWithRetry(base)() { b =>
      if (watermarked(b)) b.snapshotId
      else {
        loaded.foreach { case (schemaJson, specId, _, _) =>
          require(b.schemaJson == schemaJson && b.currentSpecId == specId,
            s"branch $name predates a schema or partition-spec " +
              "evolution — discard and re-stage")
        }
        // dropProperties is evaluated per attempt against the snapshot
        // actually being committed on — the caller's staleness decision
        // sees the properties as of the commit base, never a stale view
        val drops = dropProperties(b)
        commit(b, "append", added = entries, removed = Nil,
          propertiesOverride =
            if (txn.isEmpty && drops.isEmpty) None
            else Some((b.properties -- drops) ++ txn.map {
              // ad-hoc (ctxn-) watermarks record the PUBLISHING snapshot
              // id instead of the constant version 1: any id satisfies
              // the >= 1 skip check, and the stamp lets the catalog GC
              // only watermarks older than a replay grace window instead
              // of on the very next publish (bounded accretion WITHOUT
              // destroying a recent crash-retry's idempotence)
              case (app, _) if app.startsWith("ctxn-") =>
                s"txn.$app" -> (b.snapshotId + 1).toString
              case (app, v) => s"txn.$app" -> v.toString
            }))
      }
    }
    ids.foreach(i => fs.delete(stagedPath(i), false))
    id
  }

  /** Drop every parked changeset of the branch (files included). */
  def discardBranch(name: String): Unit =
    branchChangesets(name).foreach(discardStaged)

  private def readFiles(relFiles: Seq[String]): DataFrame =
    readFilesAs(current, relFiles)

  /** Like [[readFiles]] but with each row's source file attached as
    * FILE_COL — the column must be added INSIDE each single-source scan
    * (input_file_name() is undefined above the MOR anti-join). */
  private def readFilesWithName(relFiles: Seq[String]): DataFrame =
    readFilesAs(current, relFiles, withName = true)

  /** Read `relFiles` (entries of `ctx`) under snapshot `ctx`'s schema,
    * applying its delete artifacts (merge-on-read, see
    * [[DeleteArtifacts.apply]]). Files written before a column rename
    * are read with their PHYSICAL (as-written) names via their entry's
    * `renames` and aliased back — one scan per distinct (mapping, spec)
    * group, unioned; the common no-rename case stays a single scan.
    * Per-file facts ride each scan's file index as hidden partition
    * columns ([[GraftManifestFileIndex]]): the data sequence number
    * when `ctx` has equality deletes, `first_row_id` on a lineage read.
    *
    * With `withPos` the result additionally carries PFILE_COL /
    * PIDX_COL — each surviving row's scan URI and row ordinal (what the
    * MOR predicate DELETE/UPDATE capture as new position deletes) — and
    * each of `perFile`'s columns, a per-file value of the row's file. */
  private def readFilesAs(ctx: Snapshot, relFiles: Seq[String],
      withName: Boolean = false, withPos: Boolean = false,
      withLineage: Boolean = false,
      perFile: Seq[(StructField, ManifestEntry => Any)] = Nil): DataFrame = {
    val sch = DataType.fromJson(ctx.schemaJson).asInstanceOf[StructType]
    if (relFiles.isEmpty) {
      val out =
        if (!withLineage) sch
        else StructType(sch.fields :+ StructField(ROW_ID_COL, LongType))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], out)
    }
    val needPos = withPos || DeleteArtifacts.positional(ctx.deletes)
    val carried = perFile ++ (if (ctx.deleteFiles.isEmpty) Nil
      else Seq(StructField(SEQ_COL, LongType) -> ((f: ManifestEntry) => f.seq)))
    val fileColumns = carried ++ (if (!withLineage) Nil
      else Seq(StructField(FRI_COL, LongType) ->
        ((f: ManifestEntry) => f.info.firstRowId.map(Long.box).orNull)))
    // group additionally by partition-spec era: files of different
    // layouts (hive dirs present/absent/differently shaped) cannot
    // share one scan — Spark's partition discovery would see
    // conflicting directory structures
    val groups = relFiles.map(ctx.entries).groupBy(f => (f.renames, f.specId))
    val parts = groups.toSeq.map { case ((mapping, specId), group) =>
      // default-column metadata stays OUT of the physical scan schema:
      // the default is applied by THIS layer's projection below —
      // leaving EXISTS_DEFAULT on the scan schema would wake Spark's
      // own per-file default resolution (a re-parse per scan and a
      // second opinion on semantics we already own)
      val stripDefaults = (f: StructField) =>
        if (!f.metadata.contains(LakeTable.ExistsDefaultKey) &&
            !f.metadata.contains(LakeTable.CurrentDefaultKey)) f
        else f.copy(metadata = {
          val mb = new MetadataBuilder().withMetadata(f.metadata)
          mb.remove(LakeTable.ExistsDefaultKey)
          mb.remove(LakeTable.CurrentDefaultKey)
          mb.build()
        })
      val physSchema = StructType(sch.fields.map(f =>
        stripDefaults(f.copy(name = mapping.getOrElse(f.name, f.name)))) ++
        // lineage: declare the physical _row_id column — REWRITTEN
        // files carry it (preserved ids), any other file reads null
        // and resolves to first_row_id + position below
        (if (withLineage) Seq(StructField(ROW_ID_COL, LongType)) else Nil))
      val cols = sch.fields.map { f =>
        val phys = mapping.getOrElse(f.name, f.name)
        // a column added AFTER these files were written projects its
        // declared EXISTS_DEFAULT (constant-folded — zero per-row
        // cost); without one, the reserved absent name reads NULL.
        // Files that physically carry the column are untouched — an
        // explicitly written NULL stays NULL.
        LakeTable.defaultSqlOf(f, LakeTable.ExistsDefaultKey) match {
          case Some(sql) if phys.startsWith(ABSENT_PREFIX) =>
            expr(sql).cast(f.dataType).as(f.name)
          case _ => col(phys).as(f.name)
        }
      }.toSeq ++
        // lineage: the physical column wins (rewritten files preserved
        // their carried ids there), else first_row_id + position — the
        // Iceberg v3 resolution rule
        (if (withLineage) Seq(EntryFileIndex.rowId(Some(col(ROW_ID_COL)),
          col(FRI_COL), col("_metadata.row_index")).as(ROW_ID_COL))
        else Nil) ++
        carried.map(c => col(c._1.name)) ++
        (if (withName) Seq(input_file_name().as(FILE_COL)) else Nil) ++
        (if (needPos) Seq(col("_metadata.file_path").as(PFILE_COL),
          col("_metadata.row_index").as(PIDX_COL)) else Nil)
      prunedParquetScan(ctx, group, physSchema, sch, mapping, specId,
          fileColumns)
        .select(cols: _*) // stable column order + current names
    }
    val applied = DeleteArtifacts(spark, root, ctx,
      parts.reduce(_ unionByName _))
    if (needPos && !withPos) applied.drop(PFILE_COL, PIDX_COL)
    else applied
  }

  // ------------------------------------------------------------------ writes

  /** Append-only write (≡ reference K1, scripts/raw-bronze.py:180-182).
    *
    * With a `write.sort.order` table property (≡ Iceberg's sort orders),
    * the batch is range-repartitioned on the sort columns first, so each
    * data file covers a DISJOINT range and the per-file min/max stats
    * make key-range pruning surgical — one extra shuffle per append, the
    * documented cost of a sorted table. */
  def append(df: DataFrame): Long =
    labeled("append")(appendInternal(df, None))

  /** Idempotent append (≡ Delta's `txnAppId`/`txnVersion` writer
    * option, the standard `foreachBatch` exactly-once pattern): the
    * highest committed `version` per `appId` rides the snapshot
    * properties, and an append whose version is at or below the
    * recorded watermark is a NO-OP. A streaming sink passing its
    * (checkpoint-stable) query id and micro-batch id gets exactly-once
    * table content out of the source's at-least-once replay: a batch
    * replayed after a crash between table commit and streaming-offset
    * commit finds its own watermark and skips. Versions must be
    * monotone per appId (micro-batch ids are). */
  def appendOnce(df: DataFrame, appId: String, version: Long): Long =
    labeled("appendOnce")(appendInternal(df, Some((appId, version))))

  private def appendInternal(df: DataFrame,
      txn: Option[(String, Long)]): Long = {
    autoEvolveFor(df)
    val base = current
    def watermarked(s: Snapshot): Boolean = txn.exists { case (app, v) =>
      s.properties.get(s"txn.$app").exists(_.toLong >= v)
    }
    if (watermarked(base)) return base.snapshotId
    val aligned = alignToSchema(df)
    val clustered = sortOrderColumns match {
      case Nil => distributeForWrite(aligned)
      case cols => aligned.repartitionByRange(cols.map(col): _*)
    }
    val added = writeDataFiles(clustered).entries
    // adding fresh files commutes with ANY interleaved commit that kept
    // the schema and partition spec our files were written under —
    // append, merge, delete, compact all operate on *other* files, and
    // our files' new (higher) sequence outranks every outstanding
    // equality delete
    commitWithRetry(base)() { b =>
      // re-check the watermark against the REBASED head: if the racer
      // was this very batch's replay, skip rather than double-append
      // (the just-written files become orphans for maintenance)
      if (watermarked(b)) b.snapshotId
      else commit(b, "append", added = added, removed = Nil,
        propertiesOverride = txn.map { case (app, v) =>
          b.properties + (s"txn.$app" -> v.toString)
        })
    }
  }

  /** Import EXISTING Parquet files into the table WITHOUT rewriting
    * them (≡ Iceberg's `add_files` / `migrate` taking ownership): each
    * file is schema-gated, constraint-checked, MOVED under `data/`
    * (renames — zero data copy, O(files) metadata ops however large
    * the files), footer-profiled for stats/pruning, and committed as
    * ONE append. The table owns the files afterward: expiry and
    * orphan tooling apply, exactly the ownership Iceberg's `migrate`
    * establishes. The source layout is preserved under an import-
    * scoped directory, so a hive layout matching the table's IDENTITY
    * partition spec keeps partition pruning; hidden-transform specs
    * are refused (their dirs cannot be derived from external layouts).
    * Returns (snapshot id, files added).
    * Reference: the `add_files` half of the Iceberg procedure surface
    * the reference delegates to its Iceberg runtime jar
    * (local-notebooks/s3tablebuckets.ipynb drives tables only through
    * that jar's SQL). */
  def addFiles(srcDir: String): (Long, Int) = {
    val src = new Path(srcDir)
    require(fs.exists(src), s"no such directory $srcDir")
    // importing the table's own files would rename live data out from
    // under the manifests (and a source CONTAINING the table would
    // list its live files as import candidates) — refuse both shapes
    val srcQ = fs.makeQualified(src).toString.stripSuffix("/")
    val rootQ = fs.makeQualified(rootPath).toString.stripSuffix("/")
    require(!(srcQ + "/").startsWith(rootQ + "/") &&
        !(rootQ + "/").startsWith(srcQ + "/"),
      s"add_files source $srcDir overlaps the table directory $rootQ")
    val files = LakeTable.timed("af.list")(listParquet(fs, src))
    require(files.nonEmpty, s"no parquet files under $srcDir")
    val base = LakeTable.timed("af.current")(current)
    val sch = schema
    val fields = partitionFields
    require(fields.forall(_.isIdentity),
      "add_files needs an unpartitioned or identity-partitioned " +
        "table — hidden-transform partition dirs cannot be derived " +
        "from an external layout")
    val idCols = fields.map(_.source).toSet
    // schema gate: file CONTENT must carry exactly the non-partition
    // table columns with matching types (identity partition values
    // live in the hive dirs, stripped from content like native
    // writes); spark's dir-inferred partition types are ignored — the
    // read path parses dir strings itself
    val rels = files.map(f => relativePath(src, f))
    fields.foreach { fld =>
      val missing = rels.filterNot(
        _.split('/').exists(_.startsWith(fld.dirName + "=")))
      require(missing.isEmpty,
        s"files lack a ${fld.dirName}= partition dir: " +
          missing.take(3).mkString(", "))
    }
    // unpartitioned: read the explicit FILE list (any source nesting
    // works — no partition discovery involved). Identity-partitioned:
    // a clean hive layout under src is required, so the basePath read
    // discovers the partition dirs (and constraint checks see their
    // values).
    def sourceRead(schemaOpt: Option[StructType]) = {
      val r0 = spark.read.option("mergeSchema", "true")
      val r = schemaOpt.map(r0.schema).getOrElse(r0)
      if (fields.isEmpty) r.parquet(files.map(_.toString): _*)
      else r.option("basePath", src.toString).parquet(src.toString)
    }
    val expect = sch.fields.filterNot(f => idCols(f.name))
      .map(f => f.name -> f.dataType).toMap
    // schema gating happens PER FOOTER in the stats pass below (name
    // presence AND Spark-converted type against the table schema) —
    // no driver-side Spark inference job; at commit depth that
    // distributed read dominated the whole import (commit-depth smoke:
    // ~146 ms/commit, almost all schema inference). Only declared
    // write constraints still need a real row read.
    if (hasWriteConstraints)
      enforceWriteConstraints(sourceRead(Some(sch)))
    // destination layout: hive partition segments + a uniquified file
    // name ONLY — an arbitrary source dir could contain a segment
    // literally named `data`, which would break the move-proof
    // `data/`-boundary rule lineage resolution and position deletes
    // key on (and two imports of one layout would collide on it)
    val importId = s"import-${UUID.randomUUID().toString.take(8)}"
    val destRels = rels.zipWithIndex.map { case (r, i) =>
      val segs = r.split('/')
      val hive = segs.dropRight(1).filter(_.contains('='))
      ((importId +: hive) :+ s"part-$i-${segs.last}").mkString("/")
    }
    // profile stats from the SOURCE footers (byte-identical after the
    // rename), keyed by destination path, and PARK the import as a
    // staged changeset BEFORE any file moves: staged entries are
    // orphan-cleanup-protected, so a crash mid-import can never lose
    // the only copy of the data — every file is at src or dest, the
    // dest side shielded; `publish_staged`/`discard_staged` recover.
    val statsMap = new java.util.concurrent.ConcurrentHashMap[
      String, Map[String, ColStat]]()
    val infoMap = new java.util.concurrent.ConcurrentHashMap[
      String, FileInfo]()
    // per-file schema gate, in the same pass that opens every footer
    // anyway: every footer must carry every non-partition table column
    // (a missing column would read back as silent NULLs after import —
    // merged inference can't see it) AT the table's Spark type (a
    // per-file conflict must refuse, not coerce) — or the import fails
    // before any rename
    val schemaErrs =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // built ONCE on the session thread: the SQLConf-driven converter
    // captures the session's parquet type flags; parallelStream worker
    // threads have no active session to resolve them from
    val schemaConverter = new org.apache.spark.sql.execution
      .datasources.parquet.ParquetToSparkSchemaConverter(
        spark.sessionState.conf)
    LakeTable.timed("af.footers") {
    files.zip(destRels).toList.asJava.parallelStream().forEach {
      case (f, r) =>
        val key = s"$DATA_DIR/$r"
        // ONE footer open per file yields the schema gate's Spark
        // types AND the manifest stats/row count together
        scala.util.Try(FileStats.footerProfile(hconf, f, schemaConverter,
            sch, fields, key)) match {
          case scala.util.Success((fileSch, st, rows)) =>
            val have = fileSch.fields.map(x => x.name -> x.dataType).toMap
            expect.toSeq.sortBy(_._1).foreach { case (n, dt) =>
              have.get(n) match {
                case None => schemaErrs.add(s"$f lacks $n")
                case Some(got) if got != dt => schemaErrs.add(
                  s"$f: column $n is ${got.simpleString}, table has " +
                    dt.simpleString)
                case _ => ()
              }
            }
            // symmetric gate: a footer field the table does not know
            // would silently VANISH on every scan (the read path
            // projects the table schema) — refuse rather than import
            // data the table can never return. Partition-source
            // columns are allowed in content (external writers often
            // keep them alongside the hive dirs).
            (have.keySet -- expect.keySet -- idCols).toSeq.sorted
              .foreach(n => schemaErrs.add(
                s"$f carries $n, which the table schema lacks"))
            if (st.nonEmpty) statsMap.put(key, st)
            infoMap.put(key, FileInfo(fs.getFileStatus(f).getLen, rows))
          case scala.util.Failure(e) =>
            schemaErrs.add(s"$f: unreadable parquet footer " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage})")
        }
    }
    }
    require(schemaErrs.isEmpty,
      "add_files refused — file schemas do not match the table: " +
        schemaErrs.asScala.toSeq.sorted.take(5).mkString("; "))
    val entries = destRels.map { r =>
      val k = s"$DATA_DIR/$r"
      ManifestEntry(k, 0L, statsMap.getOrDefault(k, Map.empty), Map.empty,
        infoMap.get(k), base.currentSpecId)
    }
    val m = Snapshot.mapper
    val marker = m.createObjectNode()
    marker.put("schema_json", base.schemaJson)
    marker.put("spec_id", base.currentSpecId)
    marker.set[com.fasterxml.jackson.databind.JsonNode]("chunk",
      ManifestIO.chunkNode(entries))
    // dest → source map: files arrive by RENAME, so after a crash each
    // one exists at exactly one of the two paths — recovery
    // (publish_staged / discard_staged) must know the other endpoint to
    // complete or undo the move instead of committing ghosts or
    // deleting the only copy
    val srcNode = marker.putObject("sources")
    files.zip(destRels).foreach { case (f, r) =>
      srcNode.put(s"$DATA_DIR/$r", fs.makeQualified(f).toString)
    }
    LakeTable.timed("af.marker") {
      fs.mkdirs(stagedDir)
      writeStringExclusive(fs, stagedPath(importId),
        m.writeValueAsString(marker))
    }
    LakeTable.timed("af.rename") {
      files.zip(destRels).foreach { case (f, r) =>
        val dest = new Path(dataDir, r)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(f, dest))
          throw new java.io.IOException(s"rename $f -> $dest failed")
      }
    }
    val snap = LakeTable.timed("af.commit")(commitWithRetry(base)() { b =>
      commit(b, "add-files", added = entries, removed = Nil)
    })
    LakeTable.timed("af.unmark")(
      fs.delete(stagedPath(importId), false))
    (snap, entries.size)
  }

  /** Optimistic-retry loop (≡ Iceberg's commit retries): run
    * `attempt(base)`; on a lost race re-read HEAD and re-attempt against
    * it — committing the ALREADY-written artifacts, never re-running the
    * job that produced them. Retry is refused (conflict surfaced) when
    * the interleaved commits evolved the schema or partition spec our
    * artifacts were written under, or when the op-specific `canRetry`
    * says the new base invalidates them. Rewriting ops (COW
    * merge/delete/update, compact) do NOT use this: their outputs are
    * derived from the old base's data and must be recomputed. */
  private def commitWithRetry(base: Snapshot)(
      canRetry: (Snapshot, Snapshot) => Boolean = (_, _) => true)(
      attempt: Snapshot => Long): Long = {
    var b = base
    var n = 0
    while (true) {
      try return attempt(b)
      catch {
        case e: java.util.ConcurrentModificationException =>
          n += 1
          val nb = current
          val headMoved = nb.snapshotId != b.snapshotId
          if (n >= MAX_COMMIT_ATTEMPTS || !headMoved ||
              nb.schemaJson != base.schemaJson ||
              nb.partitionColumns != base.partitionColumns ||
              !canRetry(base, nb)) throw e
          b = nb
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Test seam: invoked between an op's artifact write and its commit
    * attempt — lets a spec deterministically interleave a racing
    * commit. No-op in production. */
  private[lake] var beforeCommitHook: () => Unit = () => ()

  /** Tag every Spark job a table operation submits with a readable
    * description (`graft.<op>`) — the optimization guide's "label your
    * jobs": attribution in the UI / listeners without touching plans.
    * Restores the caller's description on exit so nested ops and user
    * labels survive. */
  private def labeled[T](op: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft.$op")
    try f finally sc.setJobDescription(prev)
  }

  /** Whole-operation conflict retry for COPY-ON-WRITE rewrites (merge,
    * mergeClauses, delete, deleteByKeys, update). A rewrite's outputs
    * derive from the base snapshot's DATA, so a lost commit race can't
    * reuse the already-written artifacts the way [[commitWithRetry]]
    * does for appends — the only sound retry is to RECOMPUTE the whole
    * op against the new HEAD, which is exactly a serial re-execution
    * after the winning commit (serializable by construction; the
    * source/predicate re-evaluates, idempotence watermarks re-check,
    * MOR position ordinals re-capture). Opt-in via table property
    * `commit.conflict-mode=recompute` (≡ Iceberg's commit retries on
    * row-level ops); the default `fail` surfaces the
    * ConcurrentModificationException so the caller decides — either
    * way the loser NEVER silently drops the winner's effect. Each
    * attempt re-reads HEAD from the pointer store, so this is safe
    * across real process boundaries (see CrossProcessConflictSpec).
    * Files written by a lost attempt become orphans for maintenance
    * (same note as appendInternal's rebased retry). */
  private def rewriteWithRetry(op: () => Long): Long = {
    var n = 0
    while (true) {
      try return op()
      catch {
        case e: java.util.ConcurrentModificationException =>
          n += 1
          if (n >= MAX_COMMIT_ATTEMPTS ||
              !properties.get(LakeTable.PROP_CONFLICT_MODE)
                .contains("recompute")) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Ingest-path write distribution. By default (`none`)
    * [[writeDataFiles]] sizes the input: a write under the target file
    * size is one task, one file per partition it touches; a larger one
    * runs ~bytes / target tasks, each writing every partition it sees.
    * `write.distribution-mode=hash` (≡ Iceberg's) clusters rows by the
    * partition expressions first — one task per partition at any size,
    * for the price of a shuffle. Sort-ordered tables range-cluster, and
    * rewriting ops (merge/compact) keep their own partitioning. */
  private def distributeForWrite(df: DataFrame): DataFrame = {
    val fields = partitionFields
    if (fields.isEmpty ||
        !properties.get(PROP_DISTRIBUTION_MODE).contains("hash")) df
    else {
      val types = schema.fields.map(f => f.name -> f.dataType).toMap
      df.repartition(fields.map(f => f.expr(types(f.source))): _*)
    }
  }

  /** Columns of the `write.sort.order` property that exist in the
    * current schema (comma-separated; unknown names are ignored so a
    * schema evolution can't wedge writes). */
  private def sortOrderColumns: Seq[String] =
    properties.get(PROP_SORT_ORDER).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
      .filter(schema.fieldNames.contains)

  /** Replace all data (≡ reference K2, scripts/raw-bronze.py:183-185).
    * Outstanding MOR delete files are dropped with the data they applied
    * to (same as [[compact]]): the new snapshot starts delete-free, so
    * readers never pay a can't-match anti-join against a retired era and
    * expireSnapshots can reclaim the delete files. */
  def overwrite(df: DataFrame): Long = labeled("overwrite") {
    autoEvolveFor(df)
    val base = current
    val w = writeDataFiles(distributeForWrite(alignToSchema(df)))
    commit(base, "overwrite", added = w.entries, removed = base.liveFiles,
      deletes = Some(Nil))
  }

  /** Predicate-scoped overwrite (≡ Delta `replaceWhere` / Iceberg's
    * `OverwriteFiles` with a row filter): atomically replace exactly
    * the rows matching `predicate` with `df`'s rows — ONE commit, so a
    * reader never observes the region half-swapped and time travel
    * keeps the pre-swap state. Every incoming row must satisfy
    * `predicate`, checked against the STAGED bytes before any commit
    * (Delta's constraint-checked contract; validating the input plan
    * instead would let a non-deterministic batch publish rows the
    * check never saw — a violating batch would silently leak rows out
    * of the replaced region). The delete side
    * reuses the COW DELETE machinery: stats-pruned candidates, files
    * fully covered by the proof drop as pure metadata, only straddling
    * files rewrite (their non-matching rows carry over with
    * outstanding MOR deletes folded). A partition-sync on a 100 TB
    * table thus rewrites nothing and swaps file lists driver-side. */
  def overwriteWhere(df: DataFrame,
      predicate: org.apache.spark.sql.Column): Long =
    labeled("overwriteWhere")(
      rewriteWithRetry(() => overwriteWhereImpl(df, predicate, None)))

  private def overwriteWhereImpl(df: DataFrame,
      predicate: org.apache.spark.sql.Column,
      txn: Option[(String, Long)]): Long = {
    autoEvolveFor(df)
    val base = current
    // exactly-once replay guard (same `txn.<app>` watermark as
    // appendOnce/mergeOnce): a replayed restatement batch skips
    if (txn.exists { case (app, v) =>
        base.properties.get(s"txn.$app").exists(_.toLong >= v) })
      return base.snapshotId
    val aligned = alignToSchema(df)
    // write the replacement batch FIRST, then leak-check WHAT WAS
    // WRITTEN (same rationale as enforceWriteConstraints: the input
    // plan may be non-deterministic, so validating it and then
    // re-evaluating it for the write could publish rows the check
    // never saw). A violation throws before any commit — the written
    // files are unreferenced orphans for maintenance, the table state
    // untouched.
    val addedNew = writeDataFiles(distributeForWrite(aligned)).entries
    if (addedNew.nonEmpty) {
      val written = spark.read
        .option("basePath", new Path(rootPath, "data").toString)
        .schema(schema)
        .parquet(addedNew.map(e => new Path(rootPath, e.path).toString): _*)
      val violating = written.where(!coalesce(predicate, lit(false)))
        .limit(1).count()
      require(violating == 0L,
        s"overwriteWhere: the replacement batch contains rows that do " +
          s"not satisfy the predicate ($predicate) — they would leak " +
          "outside the replaced region; widen the predicate or filter " +
          "the batch")
    }
    // delete side (COW semantics regardless of delete-mode: an
    // overwrite is a rewrite op, like Delta's replaceWhere)
    val (cond, candidates) = analyzeAndPrune(base, predicate)
    val covered =
      cond.fold(Seq.empty[String])(fullyCovered(base, _, candidates))
    val rest = candidates.diff(covered)
    val affected =
      if (rest.isEmpty) Nil
      else readFilesWithName(rest)
        .where(predicate)
        .select(FILE_COL).distinct()
        .collect().map(r => relativize(r.getString(0))).toSeq
    val addedSurv =
      if (affected.isEmpty) NoWrite
      else writeDataFiles(readFilesForRewrite(base, affected).where(
        !coalesce(predicate, lit(false))), Some(bytesOf(base, affected)))
    commit(base, "overwrite-where", added = addedSurv.entries ++ addedNew,
      removed = covered ++ affected,
      propertiesOverride = txn.map { case (app, v) =>
        base.properties + (s"txn.$app" -> v.toString)
      })
  }

  /** Dynamic partition overwrite (≡ Iceberg `INSERT OVERWRITE` in
    * dynamic mode / Spark's `partitionOverwriteMode=dynamic`): replace
    * exactly the identity partitions PRESENT in `df`, leave every
    * other partition untouched — the daily-restatement write shape.
    * Implemented as [[overwriteWhere]] over the batch's distinct
    * partition tuples (one tiny distinct over the batch), so the
    * replaced partitions drop as metadata and nothing rewrites. The
    * tuple count is capped: beyond it the predicate tree stops being a
    * sane plan, and a batch restating that much of the table should
    * say so explicitly with overwriteWhere/overwrite. */
  def overwritePartitions(df: DataFrame): Long =
    labeled("overwritePartitions")(
      rewriteWithRetry(() => overwritePartitionsImpl(df, None)))

  /** Streaming twin of [[overwritePartitions]] (the per-trigger
    * restatement sink): rides the same `txn.<appId>` watermark as
    * [[appendOnce]]/[[mergeOnce]], so a crash-replayed micro-batch
    * restates nothing twice — exactly-once table content from
    * at-least-once replay. */
  def overwritePartitionsOnce(df: DataFrame, appId: String,
      version: Long): Long =
    labeled("overwritePartitionsOnce")(rewriteWithRetry(() =>
      overwritePartitionsImpl(df, Some((appId, version)))))

  private def overwritePartitionsImpl(df: DataFrame,
      txn: Option[(String, Long)]): Long = {
    val fields = partitionFields
    require(fields.nonEmpty,
      "overwritePartitions requires a partitioned table " +
        "(use overwrite/overwriteWhere on an unpartitioned table)")
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    // every field's transform must invert to a source condition:
    // identity = equality, day/month/year/truncate = the source range
    // whose derived value is the partition's — bucket (a hash) and
    // truncate-on-string cannot, and are refused up front
    fields.foreach(f => require(
      f.inverseCond(types(f.source), protoValue(types(f.source)))
        .isDefined,
      s"overwritePartitions cannot invert transform ${f.spec} — " +
        "use overwriteWhere with an explicit predicate"))
    // replay guard BEFORE the distinct job: a watermarked replay skips
    // without touching the batch at all
    val base = current
    if (txn.exists { case (app, v) =>
        base.properties.get(s"txn.$app").exists(_.toLong >= v) })
      return base.snapshotId
    val aligned = alignToSchema(df)
    val tuples = aligned
      .select(fields.map(f =>
        f.expr(types(f.source)).as(f.dirName)): _*)
      .distinct().limit(1001).collect()
    require(tuples.length <= 1000,
      "overwritePartitions: batch touches more than 1000 distinct " +
        "partitions — use overwriteWhere with an explicit predicate")
    require(tuples.nonEmpty, "overwritePartitions: empty batch")
    val predicate = tuples.map { t =>
      fields.zipWithIndex.map { case (f, i) =>
        f.inverseCond(types(f.source),
          if (t.isNullAt(i)) null else t.get(i)).get
      }.reduce(_ && _)
    }.reduce(_ || _)
    overwriteWhereImpl(aligned, predicate, txn)
  }

  /** A representative non-null derived value for probing a transform's
    * invertibility before any job runs (the probe value itself is
    * discarded). */
  private def protoValue(sourceType: org.apache.spark.sql.types.DataType)
      : Any = sourceType match {
    case org.apache.spark.sql.types.StringType => "x"
    case _ => 0L
  }

  /** Keyed upsert — the star MERGE `WHEN MATCHED THEN UPDATE SET * WHEN
    * NOT MATCHED THEN INSERT *` (≡ reference K6/J1,
    * scripts/bronze-silver.py:209-217,254-269; key reconstructed as the
    * dedup partition key, see SURVEY.md §2.4) — a clause set run by
    * [[mergeClauses]]'s engine. The source is schema-aligned first
    * (auto-evolve applies). The optional parts translate to clauses:
    *   - `deleteWhen` (CDC): `WHEN MATCHED AND cond THEN DELETE` first,
    *     and the insert becomes `WHEN NOT MATCHED AND NOT cond THEN
    *     INSERT *` — a delete row whose key matches nothing is a no-op,
    *     never an insert (the single-statement form of the reference's
    *     Op = 'D' handling, SURVEY.md §2.2 K6 note). The condition is
    *     evaluated against the RAW source (it may reference source-only
    *     columns like a CDC Op column, which alignment drops) into a
    *     source-side flag column before the join; null counts as
    *     not-deleted.
    *   - `dropUnmatchedWhen` (full sync): `WHEN NOT MATCHED BY SOURCE
    *     AND cond THEN DELETE` (`lit(true)` for unconditional), evaluated
    *     against TARGET rows (bare column names). The canonical use is a
    *     dimension refresh from a full snapshot. Cost note (inherent, as
    *     in Iceberg/Delta): under COW the drop scope is every file that
    *     may hold a cond-satisfying row — scope the cond (e.g. to the
    *     synced partition) so stats pruning narrows the rewrite; under
    *     merge-on-read it costs one key+cond column scan, zero rewrites.
    *   - `extraProperties` / `txn`: recorded IN the merge commit (the
    *     incremental-maintenance watermark and the exactly-once
    *     contract, same as [[mergeClauses]]) — what lets a maintainer
    *     whose after-image is source-computable (e.g. [[ScdDimension]])
    *     ride the zero-rewrite merge-on-read path.
    *
    * Caller contract: the source is deduped to ≤1 row per key (the
    * reference dedups first via the ROW_NUMBER window,
    * scripts/bronze-silver.py:258-266), and a key either deletes or
    * upserts, never both. Null-key rows never match and are inserts
    * (SQL join semantics). */
  def merge(source: DataFrame, keys: Seq[String],
      deleteWhen: Option[Column] = None,
      dropUnmatchedWhen: Option[Column] = None,
      extraProperties: Map[String, String] = Map.empty,
      txn: Option[(String, Long)] = None): Long =
    labeled("merge")(rewriteWithRetry(() =>
      starMerge(source, keys, deleteWhen, dropUnmatchedWhen,
        extraProperties, txn)))

  /** Exactly-once streaming MERGE (the write-side contract behind the
    * lake streaming sink's `mergeKeys` option): [[merge]]'s upsert +
    * CDC-delete clause set guarded by the same `txn.<appId>` snapshot
    * watermark as [[appendOnce]] — a micro-batch replayed after a
    * crash between table commit and streaming-offset commit finds its
    * own (appId, batchId) watermark and skips. Merge-on-read tables
    * only: per-batch COW would rewrite data files every trigger, while
    * the merge-on-read artifact costs one data file + one
    * equality-delete file per batch regardless of table size — the
    * only merge shape that survives a continuous 100-TB silver layer. */
  def mergeOnce(source: DataFrame, keys: Seq[String], appId: String,
      version: Long, deleteWhen: Option[Column] = None): Long = {
    require(properties.get(PROP_MERGE_MODE).contains("merge-on-read"),
      s"mergeOnce needs $PROP_MERGE_MODE=merge-on-read — a per-batch " +
        "COW rewrite is not a streaming-viable plan")
    starMerge(source, keys, deleteWhen, None, Map.empty,
      Some(appId -> version), morOnly = true)
  }

  /** [[merge]]'s translation into the engine's clause set. */
  private def starMerge(source: DataFrame, keys: Seq[String],
      deleteWhen: Option[Column], dropUnmatchedWhen: Option[Column],
      extraProperties: Map[String, String],
      txn: Option[(String, Long)], morOnly: Boolean = false): Long = {
    // the delete condition's source-only inputs (a CDC Op column) are
    // consumed by the flag, never evolved into the table
    val inSchema = schema.fieldNames.map(resolveKey).toSet
    autoEvolveFor(deleteWhen.fold(source)(c => source.drop(
      source.select(c).queryExecution.analyzed.references.toSeq
        .map(_.name).filterNot(n => inSchema(resolveKey(n))): _*)))
    val flag = col(s"s.$SRC_DELETE_FLAG")
    val src = deleteWhen match {
      case None => alignToSchema(source)
      case Some(c) => alignToSchema(
        source.withColumn(SRC_DELETE_FLAG, coalesce(c, lit(false))),
        keep = Seq(SRC_DELETE_FLAG))
    }
    mergeClausesImpl(src, keys,
      matched = deleteWhen.map(_ => MergeWhen(Some(flag), None)).toSeq :+
        MergeWhen.star(),
      notMatched = Seq(MergeWhen.star(deleteWhen.map(_ => !flag))),
      notMatchedBySource =
        dropUnmatchedWhen.map(c => MergeWhen(Some(c), None)).toSeq,
      extraProperties, txn, morOnly)
  }

  /** General MERGE — the one keyed row-level write engine; [[merge]],
    * [[mergeOnce]] and [[deleteByKeys]] are clause sets run through it.
    * Per-clause conditions and assignments, the full Iceberg-Spark
    * surface beyond the reference's star-only text:
    * `WHEN MATCHED [AND c] THEN UPDATE SET col = expr, … | UPDATE SET *
    * | DELETE`, `WHEN NOT MATCHED [AND c] THEN INSERT (cols) VALUES
    * (exprs) | INSERT *`, `WHEN NOT MATCHED BY SOURCE [AND c] THEN
    * UPDATE … | DELETE`, each list evaluated FIRST-MATCH-WINS (Spark
    * semantics).
    *
    * Name resolution contract (the SQL front-end pre-resolves to it):
    * `matched` / `notMatched` conditions and values reference the
    * joined plan — target columns as `t.<col>`, source columns as
    * `s.<col>`. `notMatchedBySource` clauses are evaluated on the
    * TARGET plan BEFORE the join (no source row exists) and use BARE
    * target column names. Assignment keys are bare target column
    * names; columns a matched/NMBS update leaves unassigned keep their
    * target value, columns an insert leaves unassigned become null; a
    * star clause assigns every column from the source's same-named one.
    *
    * One pipeline: the source is cached once when recomputing it is
    * expensive, then the clause set picks the physical plan —
    *   - merge-on-read artifact: the star upsert, its CDC form (the
    *     delete condition a source flag, see [[merge]]) and the key
    *     delete `MATCHED DELETE` are decided by each source row alone,
    *     so on a table whose `write.merge.mode` (`write.delete.mode`
    *     for the key delete) is `merge-on-read` they write the insert
    *     rows as new data files plus ONE equality-delete file of the
    *     source keys (and, for NMBS deletes, of the unmatched target
    *     keys one key+cond scan finds) — zero reads or rewrites of
    *     existing data; readers pay the anti-join until [[compact]];
    *   - copy-on-write rewrite, every other case: affected files =
    *     stats → partition → Bloom pruning ∩ a key-columns-only
    *     locating scan, plus a cond-pruned anti-join scan for NMBS
    *     clauses; only those files rewrite, joined with the source
    *     full-outer (left-outer without NOT MATCHED clauses, an
    *     anti-join when every matched row deletes). A matched row no
    *     clause applies to carries through;
    * then one commit. The key delete commits a `delete` snapshot (none
    * when it removes nothing), every other set a `merge`. Same caller
    * contract as [[merge]]: the source is deduped to ≤1 row per key. */
  def mergeClauses(source: DataFrame, keys: Seq[String],
      matched: Seq[MergeWhen], notMatched: Seq[MergeWhen],
      notMatchedBySource: Seq[MergeWhen] = Nil,
      extraProperties: Map[String, String] = Map.empty,
      txn: Option[(String, Long)] = None): Long =
    labeled("mergeClauses")(rewriteWithRetry(() =>
      mergeClausesImpl(source, keys, matched,
        notMatched, notMatchedBySource, extraProperties, txn)))

  /** `morOnly` ([[mergeOnce]]): the merge-on-read artifact even on an
    * empty table — its equality-delete file is what keeps a rebase past
    * a racing writer an upsert. */
  private def mergeClausesImpl(sourceIn: DataFrame, keys: Seq[String],
      matched: Seq[MergeWhen], notMatched: Seq[MergeWhen],
      notMatchedBySource: Seq[MergeWhen],
      extraProperties: Map[String, String],
      txn: Option[(String, Long)], morOnly: Boolean = false): Long = {
    // the source plan is consumed by up to FOUR independent actions
    // below (key-bounds agg, Bloom-hash agg, the locating scan, the
    // rewrite join) — an expensive source (an MV refresh's folded
    // changelog delta, a CDC batch) is otherwise recomputed end-to-end
    // for each (guide §5: reused AND costly ⇒ cache; released in the
    // finally, never left to the session contract). ∝ changed rows,
    // never table-sized, so MEMORY_AND_DISK bounds the risk at scale.
    // Variant columns skip — columnar cache admits no variant batches.
    // cache only when recomputation is genuinely expensive: a source
    // holding an aggregation/join/window/set-op (an MV refresh's folded
    // changelog, a CDC fold) re-runs its shuffles per consumer; a bare
    // scan/filter/project re-reads a pruned columnar scan — for those
    // the cache's materialization + count cost MORE than the reruns.
    val cached = LakeTable.cacheIfExpensive(sourceIn)
    val cacheSource = cached ne sourceIn
    try mergeClausesBody(cached, keys, matched, notMatched,
      notMatchedBySource, extraProperties, txn, morOnly)
    finally if (cacheSource) cached.unpersist()
  }

  private def mergeClausesBody(source: DataFrame, keys: Seq[String],
      matched: Seq[MergeWhen], notMatched: Seq[MergeWhen],
      notMatchedBySource: Seq[MergeWhen],
      extraProperties: Map[String, String],
      txn: Option[(String, Long)], morOnly: Boolean): Long = {
    // extraProperties land IN the merge's own commit — a watermark
    // recorded atomically with the change it describes (the
    // incremental-MV refresh contract: no crash window where the delta
    // applied but its source snapshot wasn't recorded, or vice versa).
    // `txn` is the appendOnce idempotence contract for merges: a
    // replayed (appId, version) at or below the recorded watermark is
    // a no-op — what makes a foreachBatch delta-merge exactly-once.
    def txnWatermarked(s: Snapshot): Boolean = txn.exists {
      case (app, v) =>
        s.properties.get(s"txn.$app").exists(_.toLong >= v)
    }
    if (txn.nonEmpty) {
      val b = current
      if (txnWatermarked(b)) return b.snapshotId
    }
    val txnProps = txn.map { case (app, v) =>
      s"txn.$app" -> v.toString }.toMap
    def propsFor(b: Snapshot): Option[Map[String, String]] =
      if (extraProperties.isEmpty && txnProps.isEmpty) None
      else Some(b.properties ++ extraProperties ++ txnProps)
    // the clause set picks the plan: the key delete and the star shapes
    // (CDC delete condition = the source flag) are decided by each
    // source row alone, so a merge-on-read table takes them without
    // reading the target
    val flag = col(s"s.$SRC_DELETE_FLAG")
    val keyDelete = notMatched.isEmpty && notMatchedBySource.isEmpty &&
      matched == Seq(MergeWhen(None, None))
    val sourceDecided = keyDelete ||
      notMatchedBySource.forall(_.assignments.isEmpty) &&
      ((matched, notMatched) match {
        case (Seq(u), Seq(i)) => u == MergeWhen.star() && i == u
        case (Seq(d, u), Seq(i)) => d == MergeWhen(Some(flag), None) &&
          u == MergeWhen.star() && i == MergeWhen.star(Some(!flag))
        case _ => false
      })
    val base = current
    // an empty table takes the plain insert, except under mergeOnce
    val artifact = sourceDecided && properties.get(
      if (keyDelete) PROP_DELETE_MODE else PROP_MERGE_MODE)
      .contains("merge-on-read") && (morOnly || base.liveFiles.nonEmpty)
    val op = if (keyDelete) "delete" else "merge"
    val fields = schema.fieldNames.toSeq
    def normName(n: String): String =
      fields.find(_.equalsIgnoreCase(n)).getOrElse(throw
        new IllegalArgumentException(s"MERGE assigns unknown column $n"))
    def normAssigns(w: MergeWhen): MergeWhen =
      if (w.star) w.copy(assignments =
        Some(fields.map(f => f -> col(s"s.$f")).toMap))
      else w.copy(assignments = w.assignments.map(_.map { case (k, v) =>
        normName(k) -> v }))
    val m = matched.map(normAssigns)
    val nm = notMatched.map(normAssigns)
    require(nm.forall(_.assignments.nonEmpty),
      "WHEN NOT MATCHED supports only INSERT")
    require(!notMatchedBySource.exists(_.star),
      "WHEN NOT MATCHED BY SOURCE has no source row to take * from")
    val nmbs = notMatchedBySource.map(normAssigns)
    // index-of-first-applying-clause cascade; when() treats a null
    // condition as not-applying, matching SQL's WHEN … AND semantics
    def firstIdx(clauses: Seq[MergeWhen]): Column =
      clauses.zipWithIndex.foldRight(lit(-1)) { case ((w, i), rest) =>
        when(w.condition.getOrElse(lit(true)), lit(i)).otherwise(rest)
      }
    // keep the row unless the first applying clause is a DELETE
    def keepFor(clauses: Seq[MergeWhen], idx: Column): Column =
      clauses.zipWithIndex.filter(_._1.assignments.isEmpty) match {
        case Nil => lit(true)
        case dels => !dels.map { case (_, i) => idx === lit(i) }
          .reduce(_ || _)
      }
    // per-column value under a clause cascade: CASE idx WHEN i THEN
    // assigned-or-default … ELSE default
    def valueFor(clauses: Seq[MergeWhen], idx: Column, c: String,
        default: Column): Column =
      clauses.zipWithIndex.foldRight(default) { case ((w, i), rest) =>
        val v = w.assignments.flatMap(_.get(c)).getOrElse(default)
        when(idx === lit(i), v).otherwise(rest)
      }
    // whether some clause of `clauses` applies (decided here when there
    // is none: no index compares with the empty cascade's -1)
    def anyApplies(clauses: Seq[MergeWhen], idx: Column): Column =
      if (clauses.isEmpty) lit(false) else idx =!= -1
    // the NOT MATCHED cascade over the source alone: the insert rows
    def inserted(src: DataFrame): DataFrame = {
      val idx = firstIdx(nm)
      src.alias("s").where(anyApplies(nm, idx)).select(fields.map { c =>
        valueFor(nm, idx, c, lit(null)).cast(schema(c).dataType).as(c)
      }: _*)
    }
    // the one commit: the txn watermark re-checks on the snapshot
    // actually committed on (the up-front check is check-then-act; a
    // concurrent replay landing in between turns this attempt into a
    // no-op, not a double-apply). Merge-on-read artifacts rebase onto a
    // racing head — the re-based delete sequence applies the keys to a
    // racer's rows too, the declarative upsert contract, and the
    // after-image outranks it — and so does a general clause set's
    // insert into an empty table. Everything else derives from the
    // base's data (or, for the star shapes, must not duplicate a
    // racer's keys): it never rebases, rewriteWithRetry recomputes it.
    def commitMerge(w: WriteResult, removed: Seq[String],
        eqDeletes: Seq[String]): Long = {
      def attempt(b: Snapshot): Long =
        if (txnWatermarked(b)) b.snapshotId
        else commit(b, op, added = w.entries, removed = removed,
          deletes =
            if (eqDeletes.isEmpty) None
            else Some(b.deletes ++ eqDeletes.map(p =>
              DeleteFile(p, b.snapshotId + 1, keys, keys))),
          propertiesOverride = propsFor(b))
      if (artifact || base.liveFiles.isEmpty && !sourceDecided)
        commitWithRetry(base)()(attempt)
      else attempt(base)
    }
    if (base.liveFiles.isEmpty && !artifact) {
      // every source row is NOT MATCHED: the insert cascade alone (a
      // delete has nothing to remove and commits nothing)
      if (keyDelete) return base.snapshotId
      val rows = inserted(source)
      if (extraProperties.isEmpty && txn.isEmpty) return append(rows)
      return commitMerge(
        writeDataFiles(distributeForWrite(alignToSchema(rows))), Nil, Nil)
    }

    val srcKeys = source.select(keys.map(col): _*).distinct()
    val nmbsCond = nmbs match {
      case Nil => None
      case ws => Some(ws.map(w =>
        coalesce(w.condition.getOrElse(lit(true)), lit(false)))
        .reduce(_ || _))
    }

    if (artifact) {
      // merge-on-read (≡ the `write.merge.mode=merge-on-read` capability
      // the reference configures, scripts/raw-bronze.py:166-172): the
      // insert rows as new data files and ONE equality-delete file of
      // every non-null source key — upserts are replaced by their
      // after-image, which shares the delete's sequence and is never
      // self-suppressed; delete rows have no after-image. Cost O(source)
      // whatever the table size.
      val after =
        if (nm.isEmpty) NoWrite else writeDataFiles(inserted(source))
      val srcDel = srcKeys.na.drop()
      // NOT MATCHED BY SOURCE: ONE key+cond column scan of the live
      // table (Catalyst prunes the read schema) finds target keys absent
      // from the source; they join the same equality-delete file — a
      // full-table sync still rewrites ZERO data files
      val delKeys = nmbsCond match {
        case None => srcDel
        case Some(c) => srcDel.unionByName(readFilesAs(base, base.liveFiles)
          .where(c).select(keys.map(col): _*).na.drop().distinct()
          .join(srcDel, keys, "left_anti"))
      }
      if (keyDelete && delKeys.isEmpty) return base.snapshotId
      return commitMerge(after, Nil,
        DeleteArtifacts.write(fs, root, delKeys).map(_._1))
    }

    // copy-on-write. Affected files: (a) any file that may hold a
    // source key — manifest-stats pruning (metadata only, zero data read:
    // what keeps a merge's cost proportional to the key range it
    // touches, not to table size), then a key-columns-only locating
    // scan semi-joined with the distinct source keys; (b) for NMBS
    // clauses, files that may hold a cond-satisfying row whose key is
    // absent from the source (cond-pruned, then a cond+key scan)
    val candidates = pruneByStats(base, srcKeys, keys)
    val keyAffected =
      if (candidates.isEmpty) Nil
      else filesOf(readFilesWithName(candidates)
        .select((keys.map(col) :+ col(FILE_COL)): _*)
        .join(srcKeys, keys, "left_semi"))
    val nmbsAffected = nmbsCond match {
      case None => Nil
      case Some(c) =>
        val scope = pruneByPredicate(base, c)
        if (scope.isEmpty) Nil
        else filesOf(readFilesWithName(scope).where(c)
          .join(srcKeys, keys, "left_anti"))
    }
    val affected = (keyAffected ++ nmbsAffected).distinct

    if (affected.isEmpty) {
      // nothing to rewrite: the insert rows alone (a delete commits
      // nothing)
      if (keyDelete) return base.snapshotId
      return commitMerge(writeDataFiles(inserted(source)), Nil, Nil)
    }

    // rewrite ONLY the affected files. NMBS clauses see only the target:
    // compute their clause index and assigned values on the pre-join
    // plan, where bare names resolve
    val nmbsIdxCol = "__graft_nmbs_idx"
    val nmbsVal = (i: Int, c: String) => s"__graft_nmbs_${i}_$c"
    val nmbsAssignedCols: Seq[(Int, String)] = nmbs.zipWithIndex.flatMap {
      case (w, i) => w.assignments.toSeq.flatMap(_.keys).map(c => (i, c))
    }
    val tgtBase = readFilesForRewrite(base, affected)
      .withColumn(TGT_MARK, lit(1))
      .withColumn(nmbsIdxCol, firstIdx(nmbs))
    val tgt = nmbsAssignedCols.foldLeft(tgtBase) { case (df, (i, c)) =>
      df.withColumn(nmbsVal(i, c),
        nmbs(i).assignments.flatMap(_.get(c)).get)
    }.alias("t")
    val s = source.withColumn(SRC_MARK, lit(1)).alias("s")
    // plain equality (NOT null-safe): a null key never matches, so
    // null-key source rows are inserts and null-key target rows carry
    // through — consistent with the semi-join locate above
    val cond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val nIdx = col(s"t.$nmbsIdxCol")
    val nmbsKeep = keepFor(nmbs, nIdx)
    def nmbsValueFor(c: String): Column =
      nmbs.zipWithIndex.foldRight(col(s"t.$c")) { case ((w, i), rest) =>
        if (w.assignments.exists(_.contains(c)))
          when(nIdx === lit(i), col(s"t.${nmbsVal(i, c)}")).otherwise(rest)
        else rest
      }
    // lineage: matched/NMBS-updated rows keep the target id; source-only
    // inserts are null → assigned fresh at commit
    val lineage =
      if (rowLineageEnabled) Seq(col(s"t.$ROW_ID_COL").as(ROW_ID_COL))
      else Nil
    val result =
      if (nm.isEmpty && m.headOption.contains(MergeWhen(None, None)))
        // every matched row deletes and nothing inserts: only the
        // unmatched target rows survive, through the NMBS cascade
        tgt.join(s, cond, "left_anti").where(nmbsKeep)
          .select(fields.map(c =>
            nmbsValueFor(c).cast(schema(c).dataType).as(c)) ++ lineage: _*)
      else {
        // source-only rows exist only for NOT MATCHED clauses
        val joined = tgt.join(s, cond,
          if (nm.isEmpty) "left_outer" else "full_outer")
        val isMatched = col(s"t.$TGT_MARK").isNotNull &&
          col(SRC_MARK).isNotNull
        val isSrcOnly = col(s"t.$TGT_MARK").isNull
        val mIdx = firstIdx(m)
        val iIdx = firstIdx(nm)
        val keep =
          (isMatched && keepFor(m, mIdx)) ||
          (isSrcOnly && anyApplies(nm, iIdx)) ||
          (!isMatched && !isSrcOnly && nmbsKeep)
        joined.where(keep).select(fields.map { c =>
          when(isMatched, valueFor(m, mIdx, c, col(s"t.$c")))
            .when(isSrcOnly, valueFor(nm, iIdx, c, lit(null)))
            .otherwise(nmbsValueFor(c))
            .cast(schema(c).dataType).as(c)
        } ++ lineage: _*)
      }
    commitMerge(writeDataFiles(result, Some(bytesOf(base, affected))),
      affected, Nil)
  }

  /** The distinct table-relative files a `FILE_COL`-carrying locating
    * scan returns. */
  private def filesOf(located: DataFrame): Seq[String] =
    located.select(FILE_COL).distinct()
      .collect().map(r => relativize(r.getString(0))).toSeq

  /** The manifest-recorded bytes of `files`: a rewrite writes about
    * that, and a join's estimate is no bound. */
  private def bytesOf(base: Snapshot, files: Seq[String]): BigInt =
    files.iterator.map(f => BigInt(base.entries(f).info.bytes)).sum

  /** Stats-based candidate pruning for key-equality operations: a file
    * whose recorded [min, max] for ANY key column is disjoint from the
    * source's key range cannot contain a matching row. Files or columns
    * without recorded bounds are conservatively kept; an unsupported key
    * type disables pruning entirely. Costs one tiny agg over the source's
    * key columns and a driver-side manifest walk — no table data is read. */
  private[lake] def pruneByStats(base: Snapshot, src: DataFrame,
      keys: Seq[String]): Seq[String] = {
    val ranged = pruneByKeyBounds(base, src, keys)
    val parted =
      if (ranged.isEmpty) ranged
      else pruneByPartitionTransforms(base, src, keys, ranged)
    if (parted.isEmpty) parted
    else pruneByBloom(base, src, keys, parted)
  }

  /** Bloom pruning for key-equality ops (see [[BloomStats]]): when
    * candidate files carry `__bloom__<key>` filters and the DISTINCT
    * source key set is small enough to collect (its hashes — two longs
    * per key column via one tiny agg, never the values), drop every
    * candidate whose filters exclude ALL source keys. This is what
    * range bounds cannot do on an unsorted ingest where every file
    * spans the whole key domain. Files without filters (or any
    * filterless tested column) are conservatively kept; a too-large
    * source skips the phase entirely. */
  private def pruneByBloom(base: Snapshot, src: DataFrame,
      keys: Seq[String], candidates: Seq[String]): Seq[String] = {
    val withBloom = candidates.filter(f =>
      keys.exists(k => base.entries(f).stats.contains(BloomStats.statKey(k))))
    if (withBloom.isEmpty) return candidates
    BloomStats.sourceKeyHashes(src, keys) match {
      case None => candidates // unbounded source: bounds pruning stands
      case Some(hashes) =>
        val excluded = withBloom.filter { f =>
          val st = base.entries(f).stats
          val filters = keys.map(k =>
            st.get(BloomStats.statKey(k)).map(cs =>
              BloomStats.decode(cs.min)))
          !hashes.exists(row => BloomStats.mightContain(filters, row))
        }.toSet
        candidates.filterNot(excluded)
    }
  }

  private def pruneByKeyBounds(base: Snapshot, src: DataFrame,
      keys: Seq[String]): Seq[String] = {
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    if (!keys.forall(k => FileStats.supportsPruning(types(k))))
      return base.liveFiles
    val aggs = keys.flatMap { k =>
      val e = FileStats.boundExpr(k, types(k))
      Seq(min(e).as(s"__min_$k"), max(e).as(s"__max_$k"))
    }
    val row = src.agg(aggs.head, aggs.tail: _*).head()
    val bounds = keys.zipWithIndex.map { case (k, i) =>
      val mn = row.get(2 * i)
      val mx = row.get(2 * i + 1)
      // a key column with zero non-null source values matches nothing
      // (plain-equality contract): no file can be affected
      if (mn == null || mx == null) return Nil
      // widen ±0.0 on FP keys (Spark join equality: 0.0 == -0.0), same
      // as the file-side encoding in FileStats.fpBounds
      types(k) match {
        case FloatType | DoubleType =>
          val lo = mn.asInstanceOf[Double]
          val hi = mx.asInstanceOf[Double]
          k -> (((if (lo == 0.0) -0.0 else lo).toString,
            (if (hi == 0.0) 0.0 else hi).toString))
        case _ => k -> ((mn.toString, mx.toString))
      }
    }.toMap
    base.entries.valuesIterator.filter { e =>
      keys.forall { k =>
        e.stats.get(k).forall { cs =>
          val (sMin, sMax) = bounds(k)
          FileStats.rangesOverlap(types(k), cs.min, cs.max, sMin, sMax)
        }
      }
    }.map(_.path).toSeq
  }

  /** Hidden-partition pruning for key-equality ops: when a key column is
    * the SOURCE of a partition transform, intersect each candidate
    * file's recorded derived point-stat with the source's derived
    * values — set-membership for bucket (≤ N distinct values, one tiny
    * distinct over the source keys), range intersection for the
    * monotone time/truncate transforms. This is what keeps a MERGE on a
    * `bucket(N, key)` table reading N-th of the table with NO sort
    * order. Files without the stat are conservatively kept. */
  private def pruneByPartitionTransforms(base: Snapshot, src: DataFrame,
      keys: Seq[String], candidates: Seq[String]): Seq[String] = {
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val fields = partitionFields
      .filter(f => !f.isIdentity && keys.contains(f.source))
    if (fields.isEmpty) return candidates
    var files = candidates
    fields.foreach { f =>
      val dt = f.statType(types(f.source))
      val expr = f.expr(types(f.source))
      f.transform match {
        case PartitionSpec.Bucket(_) | PartitionSpec.BucketIceberg(_) =>
          // null source keys never match (plain-equality contract) —
          // exclude them BEFORE deriving (bucket(null) is a real bucket)
          val vals = src.where(col(f.source).isNotNull)
            .select(expr.as("__graft_bval")).distinct()
            .collect().map(_.getLong(0)).toSet
          files = files.filter { file =>
            base.entries(file).stats.get(f.dirName) match {
              case Some(cs) => vals.contains(cs.min.toLong)
              case None => true
            }
          }
        case _ => // monotone transform: derived range intersection
          val row = src.agg(min(expr), max(expr)).head()
          if (!row.isNullAt(0)) {
            val (mn, mx) =
              if (dt == StringType) (row.getString(0), row.getString(1))
              else (row.getLong(0).toString, row.getLong(1).toString)
            files = files.filter { file =>
              base.entries(file).stats.get(f.dirName) match {
                case Some(cs) =>
                  FileStats.rangesOverlap(dt, cs.min, cs.max, mn, mx)
                case None => true
              }
            }
          }
      }
    }
    files
  }

  /** Key-based DELETE: remove every row whose key appears in `keys` (a
    * DataFrame carrying the key columns) — the CDC-delete primitive,
    * the clause set `WHEN MATCHED THEN DELETE` run by [[mergeClauses]]'s
    * engine: copy-on-write locates the files holding a key and
    * anti-joins them away; `write.delete.mode=merge-on-read` commits
    * one equality-delete file of the distinct keys — no scan, no
    * rewrite. Null keys never match; a delete that removes nothing
    * commits nothing. */
  def deleteByKeys(keys: DataFrame, keyCols: Seq[String]): Long =
    labeled("deleteByKeys")(rewriteWithRetry { () =>
      val types = schema.fields.map(f => f.name -> f.dataType).toMap
      mergeClausesImpl(
        keys.select(keyCols.map(c => col(c).cast(types(c)).as(c)): _*),
        keyCols, matched = Seq(MergeWhen(None, None)), notMatched = Nil,
        notMatchedBySource = Nil, Map.empty, None)
    })

  /** Predicate DELETE: remove the rows where `predicate` is true. ≡ the
    * `write.delete.mode` capability the reference configures
    * (scripts/raw-bronze.py:161-165); see [[rowLevelByPredicate]] for
    * the copy-on-write and merge-on-read plans. */
  def delete(predicate: Column): Long =
    labeled("delete")(rewriteWithRetry(() =>
      rowLevelByPredicate(predicate, None)))

  /** Predicate DELETE (`assignments` None) and UPDATE (`SET col = expr`
    * for the matching rows) — one path for both write modes:
    *   1. manifest-stats pruning (metadata only, zero data read): a
    *      partition-equality or range predicate narrows the scan to the
    *      files whose recorded bounds can satisfy it;
    *   2. metadata delete (≡ Iceberg, delete only): files whose stats
    *      PROVE every row matches drop from the manifest with zero data
    *      I/O — a retention `DELETE WHERE ts < cutoff` on a time-sorted
    *      table is a pure metadata commit. Under merge-on-read too: rows
    *      of a covered file already hidden by outstanding deletes match
    *      like every other row, so dropping the file changes nothing
    *      they'd produce;
    *   3. the rest is located by a scan of the predicate's columns and
    *      - copy-on-write (the default): the files holding a match
    *        rewrite, keeping the rows where the predicate is NOT TRUE
    *        (false or null — SQL removes only true) for a delete, or
    *        with the assignments applied to the matching rows for an
    *        update; untouched files carry forward by reference;
    *      - `write.delete.mode` / `write.update.mode` = merge-on-read
    *        (≡ Iceberg v2): each matching live row's (file, ordinal)
    *        goes into ONE position-delete file, and an update appends
    *        the matched rows' after-image as new data files (the
    *        position deletes cannot name them, and their fresh sequence
    *        outranks every outstanding equality delete) — zero rewrite,
    *        cost ∝ matched rows; readers anti-join the positions until
    *        [[compact]]. Rows already suppressed are not re-captured;
    *        the position capture and the after-image scan the same
    *        immutable files with the same plan, so they agree. */
  private def rowLevelByPredicate(predicate: Column,
      assignments: Option[Map[String, Column]]): Long = {
    val op = if (assignments.isEmpty) "delete" else "update"
    val base = current
    if (base.liveFiles.isEmpty) return base.snapshotId
    val (cond, candidates) = analyzeAndPrune(base, predicate)
    if (candidates.isEmpty) return base.snapshotId
    val covered =
      if (assignments.nonEmpty) Nil
      else cond.fold(Seq.empty[String])(fullyCovered(base, _, candidates))
    val rest = candidates.diff(covered)
    val sch = schema
    val mor = properties.get(
      if (assignments.isEmpty) PROP_DELETE_MODE else PROP_UPDATE_MODE)
      .contains("merge-on-read")
    if (mor) {
      lazy val matched =
        readFilesAs(base, rest, withPos = true).where(predicate)
      val found = rest.nonEmpty && !matched.isEmpty
      if (covered.isEmpty && !found) return base.snapshotId
      val delPaths =
        if (!found) Nil
        else DeleteArtifacts.write(fs, root,
          DeleteArtifacts.positionRows(matched)).map(_._1)
      val after = assignments match {
        case Some(a) if found => writeDataFiles(matched.select(
          sch.fields.map(f => a.get(f.name) match {
            case Some(e) => e.cast(f.dataType).as(f.name)
            case None => col(f.name)
          }).toIndexedSeq: _*))
        case _ => NoWrite
      }
      // retry-safe iff every file we captured positions from is STILL
      // live (a racing compact/rewrite would have re-homed the matching
      // rows); a racer's pure appends serialize AFTER this op, and the
      // after-image is new files, racer-independent
      commitWithRetry(base)(posRetrySafe) { b =>
        commit(b, op, added = after.entries, removed = covered,
          deletes = Some(b.deletes ++
            delPaths.map(p => PosDeleteFile(p, b.snapshotId + 1))))
      }
    } else {
      val affected =
        if (rest.isEmpty) Nil
        else filesOf(readFilesWithName(rest).where(predicate))
      if (covered.isEmpty && affected.isEmpty) return base.snapshotId
      val read = readFilesForRewrite(base, affected)
      val rewritten = assignments match {
        case None => read.where(!coalesce(predicate, lit(false)))
        case Some(a) => read.select((sch.fields.map { f =>
          a.get(f.name) match {
            case Some(e) =>
              when(predicate, e.cast(f.dataType)).otherwise(col(f.name))
                .as(f.name)
            case None => col(f.name)
          }
        }.toIndexedSeq ++
          // lineage: an UPDATE keeps every row's id
          (if (rowLineageEnabled) Seq(col(ROW_ID_COL)) else Nil)): _*)
      }
      val w =
        if (affected.isEmpty) NoWrite
        else writeDataFiles(rewritten, Some(bytesOf(base, affected)))
      commit(base, op, added = w.entries, removed = covered ++ affected)
    }
  }

  /** Convert every outstanding EQUALITY delete into position deletes
    * (≡ the equality→position rewrite inside Iceberg's delete
    * maintenance): a merge-on-read table that accumulated N delete
    * eras pays ONE broadcast position anti-join on reads afterwards
    * instead of one equality anti-join per era — the MOR
    * read-amplification dial. Suppressed positions are computed by the
    * SAME read path that serves queries (positions-after-pos-deletes
    * anti-joined with positions-after-all-deletes), so sequence
    * semantics — a merge's after-image outranking its own delete —
    * are inherited, never re-implemented. Only files an equality
    * delete can still touch (era < delete count) are scanned. */
  def convertEqualityDeletes(): Long = {
    val base = current
    val dels = base.deleteFiles
    if (dels.isEmpty) return base.snapshotId
    val candidates = base.entries.valuesIterator
      .filter(e => dels.count(_.seq <= e.seq) < dels.size)
      .map(_.path).toSeq
    val delPaths =
      if (candidates.isEmpty) Nil
      else {
        val noEq = base.copy(deletes =
          base.deletes.filterNot(_.isInstanceOf[DeleteFile]))
        val afterPos = readFilesAs(noEq, candidates, withPos = true)
          .select(col(PFILE_COL), col(PIDX_COL))
        val surviving = readFilesAs(base, candidates, withPos = true)
          .select(col(PFILE_COL), col(PIDX_COL))
        val suppressed = afterPos.except(surviving)
        if (suppressed.isEmpty) Nil
        else DeleteArtifacts.write(fs, root,
          DeleteArtifacts.positionRows(suppressed)).map(_._1)
      }
    commitWithRetry(base)(posRetrySafe) { b =>
      val seq = b.snapshotId + 1
      // clear only the deletes we CONVERTED — a racing merge may have
      // added new equality deletes after our base, and wiping those
      // would un-delete its rows
      val converted = dels.toSet[DeleteEntry]
      commit(b, "rewrite-deletes", added = Nil, removed = Nil,
        deletes = Some(b.deletes.filterNot(converted) ++
          delPaths.map(p => PosDeleteFile(p, seq))))
    }
  }

  /** Position-delete commits may retry only while every data file of the
    * ORIGINAL base is still live — a racer that removed files (compact,
    * COW rewrite) may have re-homed the very rows our captured ordinals
    * target. */
  private val posRetrySafe: (Snapshot, Snapshot) => Boolean =
    (old, nb) => old.liveFiles.toSet.subsetOf(nb.liveFiles.toSet)

  /** Consolidate the accumulated position-delete files (plus any prior
    * deletion vectors) into ONE deletion-vector artifact — a parquet
    * file holding one packed ordinal BITSET per targeted data file
    * (≡ Iceberg v3's deletion vectors / Delta DVs, the v2→v3 delete
    * representation change). What it buys at depth: a MOR table that
    * accumulated thousands of predicate-delete commits otherwise pays,
    * on EVERY read, one parquet open per delete artifact plus an
    * anti-join keyed by every deleted row; after consolidation reads
    * pay one broadcast row per touched data file and a map-side bit
    * test — read amplification flat no matter how many delete commits
    * history holds. Entries for no-longer-live files are dropped
    * (their rows are gone with their files). Content is IDENTICAL
    * before and after — this is maintenance, like
    * [[convertEqualityDeletes]], and composes with it (equality →
    * positions → vectors). New position deletes committed afterwards
    * accumulate again until the next consolidation; reads apply both.
    * Wired into `CALL system.maintain` via
    * `maintenance.consolidate-dv=true`. */
  def consolidateDeleteVectors(): Long = {
    val base = current
    // nothing to fold: no loose position files and at most one vector
    if (base.posDeleteFiles.isEmpty && base.dvFiles.size <= 1)
      return base.snapshotId
    val spark0 = spark
    import spark0.implicits._
    // one short row per live file, hint-broadcast unless its estimate
    // passes spark.graft.lake.filelist-broadcast-max-bytes (default
    // 1 GB; house rule: every explicit broadcast hint is size-gated —
    // a 10⁸-file table would pass Spark's 8 GB hint ceiling)
    val live = spark.createDataset(base.liveFiles).toDF("f")
    val liveBytes = base.liveFiles.iterator.map(64L + _.length * 2L).sum
    val pairs = DeleteArtifacts.positions(spark, root, base.deletes).get
      .join(if (liveBytes > spark.conf.getOption(
          "spark.graft.lake.filelist-broadcast-max-bytes")
          .fold(1L << 30)(_.toLong)) live else broadcast(live),
        Seq("f"), "left_semi")
    val delPaths = DeleteArtifacts.writeVectors(fs, root, pairs)
    commitWithRetry(base)(posRetrySafe) { b =>
      val seq = b.snapshotId + 1
      // keep only position deletes a racer added AFTER our base —
      // everything in the base set (and every prior vector) is folded
      // into the new vector
      val folded = base.posDeleteFiles.toSet[DeleteEntry]
      commit(b, "rewrite-deletes", added = Nil, removed = Nil,
        deletes = Some(b.deletes.filterNot(d =>
          folded(d) || d.isInstanceOf[DvFile]) ++
          delPaths.map { case (p, sz) => DvFile(p, seq, sz) }))
    }
  }

  /** Predicate UPDATE: `SET col = expr` for rows matching `predicate`,
    * file-pruned exactly like [[delete]] (see [[rowLevelByPredicate]]).
    * ≡ the `write.update.mode` capability the reference configures
    * (scripts/raw-bronze.py:161-165). */
  def update(predicate: Column, assignments: Map[String, Column]): Long =
    labeled("update")(rewriteWithRetry { () =>
      val bad = assignments.keySet.diff(schema.fieldNames.toSet)
      require(bad.isEmpty, s"unknown columns in SET: ${bad.mkString(", ")}")
      rowLevelByPredicate(predicate, Some(assignments))
    })

  // ------------------------------------------------ CHECK constraints

  /** Declared CHECK constraints: name → condition SQL. Stored as table
    * properties under `constraints.<name>` (Delta's scheme) so they
    * version with the table, travel through SHOW TBLPROPERTIES /
    * SHOW CREATE TABLE, and need no manifest format change. */
  def checkConstraints: Map[String, String] =
    properties.collect {
      case (k, v) if k.startsWith(LakeTable.ConstraintPrefix) =>
        k.stripPrefix(LakeTable.ConstraintPrefix) -> v
    }

  /** ≡ `ALTER TABLE … ADD CONSTRAINT name CHECK (cond)`: validates the
    * EXISTING data first (one pruned probe for a violating row — the
    * add fails if any current row breaks the rule), then records the
    * constraint as a metadata-only property commit. Every subsequent
    * data write re-validates what it writes (see
    * [[enforceWriteConstraints]]). NULL results violate, like Delta:
    * a constraint must evaluate TRUE. */
  def addCheckConstraint(name: String, conditionSql: String): Long = {
    require(!checkConstraints.contains(name),
      s"constraint $name already exists")
    val bad = scan()
      .where(!coalesce(expr(conditionSql), lit(false))).limit(1).collect()
    require(bad.isEmpty,
      s"cannot add CHECK constraint $name ($conditionSql): existing row " +
        s"violates it: ${bad.headOption.fold("")(_.toString)}")
    setProperties(Map(LakeTable.ConstraintPrefix + name -> conditionSql))
  }

  /** ≡ `ALTER TABLE … DROP CONSTRAINT [IF EXISTS] name`. */
  def dropCheckConstraint(name: String, ifExists: Boolean = false): Long = {
    if (!checkConstraints.contains(name)) {
      require(ifExists, s"no constraint $name")
      return current.snapshotId
    }
    unsetProperties(Seq(LakeTable.ConstraintPrefix + name))
  }

  /** Column names a constraint's condition references (for the
    * drop/rename-column guards). */
  private def constraintRefs(conditionSql: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(conditionSql).collect {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        ua.nameParts.head
    }.toSet

  /** Refuse schema changes that would orphan a constraint. */
  private def requireNoConstraintOn(colName: String, op: String): Unit =
    checkConstraints.foreach { case (n, sql) =>
      require(!constraintRefs(sql).contains(colName),
        s"cannot $op column $colName: CHECK constraint $n ($sql) " +
          "references it — drop the constraint first")
    }

  /** Whether any write-time rule is active (used to skip the staged-file
    * validation read entirely on unconstrained tables). */
  private def hasWriteConstraints: Boolean =
    checkConstraints.nonEmpty ||
      properties.get(LakeTable.PropEnforceNotNull).contains("true")

  /** One violation probe over the STAGED files of a write — CHECK
    * constraints (must evaluate TRUE — NULL violates) and, when the
    * table opts in with `write.enforce-not-null=true`, the schema's
    * non-nullable columns — all in a single job; the first offending
    * rule is named in the error. NOT NULL is OPT-IN because Scala
    * tuple/case-class-derived schemas over-declare non-nullability and
    * this engine's read path deliberately treats every file as
    * nullable (a file CAN hold nulls regardless of declarations); only
    * a table that explicitly asks gets writes rejected over it. Tables
    * without constraints pay NOTHING (no job). Runs on every data
    * write — ingest, merge/update rewrites, compaction folds — over the
    * parquet the write just staged, BEFORE any file is renamed live: the
    * validated rows are byte-for-byte the rows a commit would publish,
    * so the guarantee holds even for non-deterministic inputs
    * (rand()/uuid()/re-read sources), and a constrained write pays one
    * pushdown-pruned columnar read of the delta instead of a second full
    * evaluation of its input plan. */
  private def enforceWriteConstraints(df: DataFrame): Unit = {
    val checks = checkConstraints.toSeq.sortBy(_._1)
    val notNull =
      if (!properties.get(LakeTable.PropEnforceNotNull).contains("true")) Nil
      else schema.fields.filter(!_.nullable).map(_.name)
        .filter(df.columns.contains).toSeq
    if (checks.isEmpty && notNull.isEmpty) return
    val conds = checks.map { case (n, sql) =>
      (s"CHECK constraint $n ($sql)", !coalesce(expr(sql), lit(false)))
    } ++ notNull.map(c => (s"NOT NULL column $c", col(c).isNull))
    val label = conds.tail.foldLeft(
      when(conds.head._2, lit(conds.head._1))) {
      case (acc, (n, c)) => acc.when(c, lit(n))
    }
    val bad = df.where(conds.map(_._2).reduce(_ || _))
      .select(label.as("rule")).limit(1).collect()
    if (bad.nonEmpty) throw new IllegalStateException(
      s"write rejected: a row violates ${bad.head.getString(0)}")
  }

  /** Metadata-only table-property update (≡ `ALTER TABLE … SET
    * TBLPROPERTIES`): properties steer FUTURE operations (merge/delete
    * modes, codec, sort order, distribution) — no data is touched, and
    * time travel sees each era's own properties. */
  def setProperties(props: Map[String, String]): Long = {
    val base = current
    require(!(props.get(LakeTable.PROP_ROW_LINEAGE).contains("true") &&
        schema.fieldNames.contains(LakeTable.ROW_ID_COL)),
      s"cannot enable ${LakeTable.PROP_ROW_LINEAGE}: the schema already " +
        s"has a user column named ${LakeTable.ROW_ID_COL} (reserved)")
    commit(base, "set-properties", added = Nil, removed = Nil,
      propertiesOverride = Some(base.properties ++ props))
  }

  /** ≡ `ANALYZE TABLE … COMPUTE STATISTICS [NOSCAN]`: records
    * table-level stats (row count, total bytes, the analyzed snapshot)
    * as table properties in one metadata commit. Because the manifest
    * already carries exact per-file row counts, even the "scan" flavor
    * is metadata-only here — O(live files) driver work, zero data I/O —
    * unless row-level deletes are pending (then one count over the
    * MOR-applied scan). Readable via `SHOW TBLPROPERTIES` /
    * `DESCRIBE EXTENDED` / the `.stats` keys. */
  def analyze(): Long = {
    val s = current
    val bytes = s.entries.valuesIterator.map(_.info.bytes).sum
    setProperties(Map(
      LakeTable.PROP_STATS_ROWS -> countRows().toString,
      LakeTable.PROP_STATS_BYTES -> bytes.toString,
      LakeTable.PROP_STATS_SNAPSHOT -> s.snapshotId.toString))
  }

  /** ≡ `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS c1, …`: one
    * aggregate pass over the table computing, per column, the distinct
    * count, null count, and min/max (rendered as strings), stored as
    * `stats.col.<name>.{ndv,nulls,min,max}` properties alongside the
    * table-level stats — the CBO-shaped summary an engine or a human
    * reads before picking join orders.
    *
    * `exact = true` (default) uses `count_distinct` — one shuffle of
    * distinct values per column, the price of an exact NDV and fine as
    * an occasional maintenance action. At the 100 TB scale pass
    * `exact = false` for `approx_count_distinct` (HyperLogLog++,
    * map-side partials only — the same single-pass shape Spark's own
    * ANALYZE uses). */
  def analyzeColumns(cols: Seq[String], exact: Boolean = true): Long = {
    val sch = schema
    val bad = cols.filterNot(sch.fieldNames.contains)
    require(bad.isEmpty, s"no such column(s): ${bad.mkString(", ")}")
    val nonScalar = cols.filter(c => !LakeTable.isScalarType(sch(c).dataType))
    require(nonScalar.isEmpty,
      s"FOR COLUMNS needs scalar-typed columns, got: " +
        nonScalar.map(c => s"$c: ${sch(c).dataType.simpleString}")
          .mkString(", "))
    val s = current
    val df = scan()
    val aggs = cols.flatMap { c =>
      Seq(
        (if (exact) count_distinct(col(c))
         else approx_count_distinct(col(c))).as(s"__ndv_$c"),
        count(when(col(c).isNull, 1)).as(s"__nulls_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    } :+ count(lit(1)).as("__rows")
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def str(field: String): Option[String] = {
      val i = row.fieldIndex(field)
      if (row.isNullAt(i)) None else Some(row.get(i).toString)
    }
    val colProps = cols.flatMap { c =>
      Seq(s"stats.col.$c.ndv" -> str(s"__ndv_$c").getOrElse("0"),
        s"stats.col.$c.nulls" -> str(s"__nulls_$c").getOrElse("0")) ++
        str(s"__min_$c").map(v => s"stats.col.$c.min" -> v) ++
        str(s"__max_$c").map(v => s"stats.col.$c.max" -> v)
    }
    val bytes = s.entries.valuesIterator.map(_.info.bytes).sum
    setProperties(colProps.toMap ++ Map(
      LakeTable.PROP_STATS_ROWS -> str("__rows").getOrElse("0"),
      LakeTable.PROP_STATS_BYTES -> bytes.toString,
      LakeTable.PROP_STATS_SNAPSHOT -> s.snapshotId.toString))
  }

  /** ≡ `ALTER TABLE … UNSET TBLPROPERTIES`. */
  def unsetProperties(keys: Seq[String]): Long = {
    val base = current
    commit(base, "unset-properties", added = Nil, removed = Nil,
      propertiesOverride = Some(base.properties -- keys))
  }

  /** Partition evolution (≡ Iceberg `ALTER TABLE … [ADD|DROP|REPLACE]
    * PARTITION FIELD`): switch FUTURE writes to `partitionBy` without
    * rewriting a byte of history. A metadata-only commit registers the
    * new spec and makes it current; every existing file keeps the spec
    * id it was written under, and scans read each layout era with its
    * own per-era sub-scan (same union shape as rename eras). MERGE /
    * DELETE pruning degrades gracefully across eras: a file's recorded
    * partition point-stats are keyed by ITS spec's derived names, so
    * old-era files simply aren't partition-pruned by the new spec's
    * transforms (bounds pruning still applies). [[compact]] rewrites
    * under the current spec — the lazy migration path. */
  def evolvePartitionSpec(partitionBy: Seq[String]): Long = {
    val base = current
    if (partitionBy == base.partitionColumns) return base.snapshotId
    validateSpec(schema, partitionBy)
    val registry = base.specsOrDefault
    // reuse an already-registered identical spec's id (evolve A→B→A
    // keeps era grouping minimal); otherwise mint the next id
    val newId = registry.find(_._2 == partitionBy).map(_._1)
      .getOrElse(registry.keys.max + 1L)
    commit(base, "evolve-spec", added = Nil, removed = Nil,
      specChange = Some((partitionBy, newId,
        registry + (newId -> partitionBy))))
  }

  // -------------------------------------------------------- schema evolution

  /** Add a nullable column (metadata-only commit, ≡ Iceberg
    * `ALTER TABLE … ADD COLUMN`): existing files read NULL for it —
    * or the column's DEFAULT, when one is declared — and new writes
    * carry it.
    *
    * Every pre-existing live file gets a name mapping to a reserved
    * never-written physical name. This guarantees Iceberg's field-id
    * semantics with two birds: (a) a file that happens to carry dead
    * bytes under `name` (dropColumn + re-add) reads NULL instead of
    * silently resurrecting the old data; (b) re-adding a name that is
    * still some file's PHYSICAL name after a rename (rename v→w, add v)
    * cannot collide in the per-file physical schema.
    *
    * `defaultSql` (≡ Iceberg v3 initial-defaults / Delta
    * `ALTER TABLE … ADD COLUMN … DEFAULT`): a constant, deterministic
    * SQL expression stored in the field's metadata under Spark's own
    * default-column keys (`EXISTS_DEFAULT` = what pre-existing rows
    * read, `CURRENT_DEFAULT` = what future writes fill for the column
    * when absent). Zero rewrite in both directions: old files project
    * the expression at scan time; new files that carry the column read
    * their written values verbatim (an explicit NULL written after the
    * add stays NULL — default is NOT a read-time coalesce). */
  def addColumn(name: String, dataType: DataType,
      nullable: Boolean = true, defaultSql: Option[String] = None): Long = {
    val base = current
    val sch = schema
    require(!sch.fieldNames.contains(name), s"column $name already exists")
    require(!(rowLineageEnabled && name == LakeTable.ROW_ID_COL),
      s"column name ${LakeTable.ROW_ID_COL} is reserved on a " +
        s"${LakeTable.PROP_ROW_LINEAGE}=true table")
    require(nullable,
      "new columns must be nullable: existing files carry no values")
    val metadata = defaultSql match {
      case None => Metadata.empty
      case Some(sql) =>
        // validate once at DDL time: parses, evaluates as a constant
        // (no input row), is deterministic, and casts to the column
        // type — then read-time re-evaluation is exactly this value
        val df = spark.range(1)
          .select(expr(sql).cast(dataType).as("__graft_default"))
        require(df.queryExecution.analyzed.expressions
            .forall(_.deterministic),
          s"DEFAULT for $name must be deterministic: $sql")
        df.collect() // fails here, not mid-scan, on a bad expression
        new MetadataBuilder()
          .putString(LakeTable.ExistsDefaultKey, sql)
          .putString(LakeTable.CurrentDefaultKey, sql)
          .build()
    }
    val newSchema = StructType(sch.fields :+
      StructField(name, dataType, nullable, metadata))
    val absent = ABSENT_PREFIX + name
    commit(base, "evolve-schema", added = Nil, removed = Nil,
      restated = base.entries.values.map(e =>
        e.copy(renames = e.renames + (name -> absent))).toSeq,
      schemaJson = Some(newSchema.json))
  }

  /** Rename a column (metadata-only commit, ≡ Iceberg
    * `ALTER TABLE … RENAME COLUMN`): no data rewrite — files written
    * under the old name are tracked in the manifest's name mapping and
    * read back aliased (the name-mapped equivalent of Iceberg's
    * field-id indirection). Partition columns can't be renamed (their
    * name is baked into the hive directory layout). */
  def renameColumn(oldName: String, newName: String): Long = {
    val base = current
    val sch = schema
    require(sch.fieldNames.contains(oldName), s"no column $oldName")
    require(!sch.fieldNames.contains(newName),
      s"column $newName already exists")
    require(!(rowLineageEnabled && newName == LakeTable.ROW_ID_COL),
      s"column name ${LakeTable.ROW_ID_COL} is reserved on a " +
        s"${LakeTable.PROP_ROW_LINEAGE}=true table")
    requireNoConstraintOn(oldName, "rename")
    require(!specSources.contains(oldName),
      s"cannot rename partition source column $oldName " +
        "(baked into the hive directory layout of some spec era)")
    val newSchema = StructType(sch.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    // stats and delete-file logical keys follow the column — including
    // the per-column pseudo-stats (null counts, bloom filters)
    def rekey(c: String): String =
      if (c == oldName) newName
      else if (c == FileStats.nullsKey(oldName)) FileStats.nullsKey(newName)
      else if (c == FileStats.sumKey(oldName)) FileStats.sumKey(newName)
      else if (c == BloomStats.statKey(oldName)) BloomStats.statKey(newName)
      else c
    // every pre-rename live file now maps newName -> its physical name
    val restated = base.entries.values.map { e =>
      val phys = e.renames.getOrElse(oldName, oldName)
      e.copy(renames = (e.renames - oldName) + (newName -> phys),
        stats = e.stats.map { case (c, cs) => rekey(c) -> cs })
    }.toSeq
    val dels = base.deletes.map {
      case d: DeleteFile => d.copy(
        keys = d.keys.map(k => if (k == oldName) newName else k))
      case d => d
    }
    commit(base, "evolve-schema", added = Nil, removed = Nil,
      restated = restated, schemaJson = Some(newSchema.json),
      deletes = Some(dels))
  }

  /** Widen a column's type in place (metadata-only commit, ≡ Iceberg
    * `ALTER TABLE … ALTER COLUMN … TYPE …` type promotion): no data
    * rewrite — Spark 4's vectorized parquet reader upcasts the narrow
    * as-written values to the requested wide type at scan time
    * (verified on this runtime: int32→long/double, float→double,
    * decimal precision/scale growth, date→timestamp_ntz), so files of
    * every era share one scan under the wide schema. Only lossless
    * promotions are accepted ([[LakeTable.canWiden]]); anything else
    * would need a full rewrite and is refused.
    *
    * Stats bookkeeping across the widen:
    *  - min/max bounds KEEP: integral stats are stored as decimal
    *    strings (re-parse exactly under the wide type) and float
    *    bounds are stored as their EXACT double widenings
    *    (FileStats.fpBounds) — except date→timestamp_ntz, whose stat
    *    domain changes (epoch days → wall-clock micros), so those
    *    bounds are dropped.
    *  - per-column Bloom pseudo-stats DROP: Spark's XxHash64 hashes
    *    int and long domains differently, so probing a wide-typed
    *    literal against a narrow-domain filter would false-negative
    *    and wrongly prune live files. New files rebuild Bloom filters
    *    in the wide domain.
    * Partition source columns can't change type — their value encoding
    * is baked into the hive directory names of some spec era. */
  def widenColumnType(name: String, to: DataType): Long = {
    val base = current
    val sch = schema
    val f = sch.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no column $name"))
    if (f.dataType == to) return base.snapshotId
    require(LakeTable.canWiden(f.dataType, to),
      s"cannot alter column $name: ${f.dataType.simpleString} -> " +
        s"${to.simpleString} is not a lossless widening (a narrowing " +
        "or cross-domain change needs a rewrite)")
    require(!specSources.contains(name),
      s"cannot change the type of partition source column $name " +
        "(its value encoding is baked into the hive directory layout)")
    val newSchema = StructType(sch.fields.map(x =>
      if (x.name == name) x.copy(dataType = to) else x))
    val dropBounds = f.dataType == DateType // stat domain changes
    // a sum stat survives only integral→integral widening (the Spark
    // sum result type stays LongType); widening into the FP domain
    // changes sum semantics to an order-dependent double fold
    val dropSum = !FileStats.supportsExactSum(to)
    commit(base, "evolve-schema", added = Nil, removed = Nil,
      restated = base.entries.values.map(e => e.copy(stats =
        e.stats - BloomStats.statKey(name) --
          (if (dropBounds) Seq(name) else Nil) --
          (if (dropSum) Seq(FileStats.sumKey(name)) else Nil))).toSeq,
      schemaJson = Some(newSchema.json))
  }

  /** Drop a column (metadata-only commit, ≡ Iceberg
    * `ALTER TABLE … DROP COLUMN`): data files keep the bytes; reads just
    * stop projecting them. Stats and name mappings for the column are
    * stripped so a later re-add (same Parquet type) starts clean. */
  def dropColumn(name: String): Long = {
    val base = current
    val sch = schema
    require(sch.fieldNames.contains(name), s"no column $name")
    requireNoConstraintOn(name, "drop")
    // a live equality delete matches on its key columns: dropping one
    // would leave the delete nothing to match (compact folds it in)
    require(!base.deleteFiles.exists(_.keys.contains(name)),
      s"cannot drop column $name: a live equality delete is keyed on it " +
        "(compact first)")
    require(!specSources.contains(name),
      s"cannot drop partition source column $name " +
        "(of the current or a historical spec era)")
    require(sch.fields.length > 1, "cannot drop the last column")
    val newSchema = StructType(sch.fields.filterNot(_.name == name))
    commit(base, "evolve-schema", added = Nil, removed = Nil,
      restated = base.entries.values.map(e => e.copy(
        stats = e.stats - name - FileStats.nullsKey(name) -
          FileStats.sumKey(name) - BloomStats.statKey(name),
        renames = e.renames - name)).toSeq,
      schemaJson = Some(newSchema.json))
  }

  /** Parquet scan over `relFiles` planned from the MANIFEST (see
    * [[GraftManifestFileIndex]]): file statuses come from per-file
    * manifest sizes — ZERO filesystem listing at plan time — and
    * Catalyst's pushed-down data filters prune files against per-file
    * column bounds, hidden bucket-partition hashes, and per-file Bloom
    * filters before a single task is planned. Every read path (SQL
    * text over registered views, DataFrame ops, MERGE source scans,
    * time travel) inherits manifest pruning with no graft-specific
    * API. */
  private def prunedParquetScan(ctx: Snapshot, files: Seq[ManifestEntry],
      physSchema: StructType, logicalSchema: StructType,
      mapping: Map[String, String], specId: Long,
      fileColumns: Seq[(StructField, ManifestEntry => Any)]): DataFrame = {
    val relFiles = files.map(_.path)
    val statuses = files.map(f => new FileStatus(f.info.bytes, false, 1,
      DefaultBlockSize, 0L, fs.makeQualified(new Path(rootPath, f.path))))
    // claim a real BucketSpec when this era is partitioned by exactly
    // one bucket transform and EVERY file carries a parseable Spark
    // bucket-id suffix: the scan then reports
    // HashPartitioning(source, N) — the exact partitioning Spark's own
    // bucketed tables report, because the write derived the bucket with
    // Spark's own bucket-id function — and joins/aggregations on the
    // source column skip the table-side shuffle. Files from older
    // (pre-suffix or differently-specced) eras make the claim
    // impossible and fall back to a plain scan, never a wrong one.
    val bucketSpec = {
      import org.apache.spark.sql.execution.datasources.BucketingUtils
      val eraFields = PartitionSpec.parseAll(
        ctx.specsOrDefault.getOrElse(specId, Nil))
      eraFields.collect {
        case f @ PartitionSpec.Field(_, PartitionSpec.Bucket(n), _) =>
          (f, n)
      } match {
        case Seq((f, n)) =>
          val phys = mapping.getOrElse(f.source, f.source)
          val allNamed = statuses.forall(st =>
            BucketingUtils.getBucketId(st.getPath.getName)
              .exists(id => id >= 0 && id < n))
          if (allNamed && !phys.startsWith(ABSENT_PREFIX))
            Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(
              n, Seq(phys), Nil))
          else None
        case _ => None
      }
    }
    // pushed filters arrive in this era's PHYSICAL names; the manifest
    // keys stats (and bucket sources) by CURRENT LOGICAL names —
    // rename commits rekey them. Translate attributes back before the
    // stats lookup so pre-rename files still prune.
    val inv = mapping.map(_.swap)
    val pruner: Seq[org.apache.spark.sql.catalyst.expressions.Expression]
        => (Path => Boolean) = { filters =>
      import org.apache.spark.sql.catalyst.expressions.{
        And, AttributeReference}
      val cond = filters.reduce(And(_, _)).transform {
        case a: AttributeReference if inv.contains(a.name) =>
          a.withName(inv(a.name))
      }
      val kept = pruneFiles(ctx, cond, logicalSchema, relFiles).toSet
      p => kept(relativePath(rootPath, p))
    }
    // exact relation row count from manifest footer counts — lets a
    // bare COUNT(*) answer from metadata (ManifestAggRule); delete
    // anti-joins above this relation block that rewrite by plan shape,
    // so MOR state can never leak into the fast path
    val knownRows = files.iterator.map(_.info.rows).sum
    // proven per-column facts for the metadata MIN/MAX/count(col) legs
    // of ManifestAggRule — a LAZY fold (cost ∝ files × cols, paid only
    // by plans the rule can actually rewrite). Bounds are proven iff
    // EVERY planned file either reports footer bounds for the column
    // or is proven all-null (recorded null count == the file's row
    // count, or an empty file); the non-null count is proven iff every
    // file reports a null count (Σ rows − nulls). One unprovable file
    // drops that fact, independently per fact. Keys are this era's
    // PHYSICAL names (the relation's attributes) — stats are held
    // under current logical names.
    val knownProofs: () => Map[String, ColumnProof] = () =>
      logicalSchema.fields.iterator.flatMap { fld =>
        val wantBounds = ManifestAggRule.exactStatType(fld.dataType)
        var mn: String = null
        var mx: String = null
        var any = false
        var boundsOk = wantBounds
        var nonNull = 0L
        var nonNullOk = true
        var sumAcc = BigInt(0)
        var sumOk = FileStats.supportsExactSum(fld.dataType)
        files.foreach { f =>
          val st = f.stats
          val rows = f.info.rows
          val nulls = st.get(FileStats.nullsKey(fld.name))
            .map(_.min.toLong)
          if (boundsOk) st.get(fld.name) match {
            case Some(cs) =>
              if (!any) { mn = cs.min; mx = cs.max; any = true }
              else {
                if (FileStats.cmp(fld.dataType, cs.min, mn) < 0) mn = cs.min
                if (FileStats.cmp(fld.dataType, cs.max, mx) > 0) mx = cs.max
              }
            case None =>
              if (!(rows == 0L || nulls.contains(rows))) boundsOk = false
          }
          if (nonNullOk) nulls match {
            case Some(n) => nonNull += rows - n
            case None => if (rows != 0L) nonNullOk = false
          }
          if (sumOk) st.get(FileStats.sumKey(fld.name)) match {
            case Some(cs) => sumAcc += BigInt(cs.min)
            // all-null / empty files contribute zero even without the
            // stat (written before write.agg.columns was set)
            case None =>
              if (!(rows == 0L || nulls.contains(rows))) sumOk = false
          }
        }
        if (boundsOk && any &&
          !ManifestAggRule.exactFoldedBounds(fld.dataType, mn, mx))
          boundsOk = false
        if (!boundsOk && !nonNullOk && !sumOk) None
        else Some(mapping.getOrElse(fld.name, fld.name) -> ColumnProof(
          if (boundsOk) Some(if (any) Some((mn, mx)) else None) else None,
          if (nonNullOk) Some(nonNull) else None,
          if (sumOk) Some(sumAcc) else None))
      }.toMap
    // per-file facts for the GROUPED metadata rewrite (lazy, same
    // provenance as the folds above): physical-name keyed bounds /
    // all-null proofs / null counts per planned file
    def factsOf(f: ManifestEntry): FileFacts = {
      val st = f.stats
      val rows = f.info.rows
      val cols = logicalSchema.fields.iterator.map { fld =>
        val nulls = st.get(FileStats.nullsKey(fld.name))
          .map(_.min.toLong)
        mapping.getOrElse(fld.name, fld.name) -> ColFacts(
          if (ManifestAggRule.exactStatType(fld.dataType))
            st.get(fld.name).map(cs => (cs.min, cs.max))
          else None,
          rows == 0L || nulls.contains(rows),
          nulls,
          if (FileStats.supportsExactSum(fld.dataType))
            st.get(FileStats.sumKey(fld.name)).map(cs => BigInt(cs.min))
          else None)
      }.toMap
      FileFacts(rows, cols)
    }
    val knownFacts: () => Seq[FileFacts] = () => files.map(factsOf)
    // FILTERED facts for `SELECT min/max/count … WHERE cond`
    // (ManifestAggRule's filtered leg): the manifest proves the split
    // when every file candidateFiles keeps is ALL-MATCH by the same
    // per-file prover metadata-only DELETE trusts (bounds + null
    // counts, [[PredicatePruning.allRowsMatch]]) — files it drops
    // provably hold no match, so the aggregate over the kept files'
    // facts is exact. One unprovable candidate → None (normal scan).
    // Identity-partitioned files satisfy equality conditions on the
    // partition column by construction (dir point-stat, zero nulls).
    val knownFilteredFacts: org.apache.spark.sql.catalyst.expressions
        .Expression => Option[Seq[FileFacts]] = { cond =>
      import org.apache.spark.sql.catalyst.expressions.AttributeReference
      val logicalCond = cond.transform {
        case a: AttributeReference if inv.contains(a.name) =>
          a.withName(inv(a.name))
      }
      val types = logicalSchema.fields
        .map(f => f.name -> f.dataType).toMap
      // candidateFiles keeps a file it merely lacks bounds for (e.g.
      // a NULL-partition dir has no bounds on the partition column);
      // the dual noneMatch proof discards those it can PROVE
      // matchless (all-null column vs a comparison) before the
      // all-match requirement is applied to what remains
      val kept = PredicatePruning.candidateFiles(logicalCond,
          logicalSchema, relFiles, ctx.entries.get(_).map(_.stats))
        .map(ctx.entries)
        .filterNot(f => PredicatePruning.noneMatch(logicalCond, f.stats,
          types, f.info.rows))
      val proven = kept.forall(f => PredicatePruning.allRowsMatch(
        logicalCond, f.stats, types, f.info.rows))
      if (proven) Some(kept.map(factsOf)) else None
    }
    val fileValues =
      if (fileColumns.isEmpty) Map.empty[Path, Seq[Any]]
      else files.zip(statuses).map { case (f, st) =>
        st.getPath -> fileColumns.map(_._2(f)) }.toMap
    GraftManifestFileIndex.dataFrame(new GraftManifestFileIndex(spark,
      Map("basePath" -> dataDir.toString), physSchema, statuses, pruner,
      knownRows, knownProofs, knownFacts, knownFilteredFacts,
      StructType(fileColumns.map(_._1)), fileValues), bucketSpec)
  }

  /** Bloom pruning for pushed literal equalities (the read-side twin of
    * [[pruneByBloom]]'s keyed-source form): a top-level `col = literal`
    * conjunct evaluates the literal's xxhash64 pair driver-side with
    * the SAME expressions the write path used ([[BloomStats.hashCols]])
    * and drops candidate files whose stored `__bloom__col` filter
    * provably lacks the value. Type-mismatched literals (an implicit
    * cast survived between the filter and the column) are skipped —
    * their hash would be of the wrong domain. */
  private def pruneByLiteralBloom(base: Snapshot,
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      candidates: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{
      AttributeReference, EqualTo, In, Literal, XxHash64}
    var files = candidates
    // IN semantics: keep the file iff ANY listed value might be present
    def prune(a: AttributeReference, ls: Seq[Literal]): Unit = {
      if (ls.isEmpty ||
        ls.exists(l => l.value == null || l.dataType != a.dataType)) return
      if (!files.exists(f =>
          base.entries(f).stats.contains(BloomStats.statKey(a.name)))) return
      val hashes = ls.map { l =>
        (new XxHash64(Seq(l)).eval(null).asInstanceOf[Long],
          new XxHash64(Seq(Literal("graft-bloom"), l))
            .eval(null).asInstanceOf[Long])
      }
      files = files.filter { f =>
        base.entries(f).stats.get(BloomStats.statKey(a.name)) match {
          case Some(cs) =>
            val filter = Seq(Some(BloomStats.decode(cs.min)))
            hashes.exists { case (h1, h2) =>
              BloomStats.mightContain(filter, Array(h1, h2))
            }
          case None => true
        }
      }
    }
    PredicatePruning.conjuncts(cond).foreach {
      case EqualTo(a: AttributeReference, l: Literal) => prune(a, Seq(l))
      case EqualTo(l: Literal, a: AttributeReference) => prune(a, Seq(l))
      case In(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        prune(a, vs.map(_.asInstanceOf[Literal]))
      case _ =>
    }
    files
  }

  /** Files of `candidates` whose manifest stats PROVE every row matches
    * the analyzed condition — droppable from the manifest with zero
    * data I/O (see [[PredicatePruning.allRowsMatch]]). */
  private def fullyCovered(base: Snapshot,
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      candidates: Seq[String]): Seq[String] = {
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    candidates.filter { f =>
      val e = base.entries(f)
      PredicatePruning.allRowsMatch(cond, e.stats, types, e.info.rows)
    }
  }

  /** Manifest pruning for a `Column` predicate: analyze it against the
    * snapshot's schema ([[PredicatePruning.analyze]]), then keep the
    * live files [[pruneFiles]] cannot rule out — the same selection a
    * pruned scan makes, so predicate DELETE/UPDATE, `overwriteWhere`
    * and [[compactWhere]] touch exactly the files a scan would open.
    * Analysis failure → no pruning. */
  private[lake] def pruneByPredicate(base: Snapshot,
      predicate: org.apache.spark.sql.Column): Seq[String] =
    analyzeAndPrune(base, predicate)._2

  /** [[pruneByPredicate]] that also hands back the analyzed condition
    * (None: analysis failed), so a caller proving [[fullyCovered]]
    * files analyzes the predicate once. */
  private def analyzeAndPrune(base: Snapshot,
      predicate: org.apache.spark.sql.Column)
      : (Option[org.apache.spark.sql.catalyst.expressions.Expression],
        Seq[String]) = {
    // schema from the SNAPSHOT, not the `schema` accessor: the pruned
    // scan path hands in a partially-materialized snapshot and must not
    // force a full `current` load (it would defeat the chunk skipping)
    val sch = DataType.fromJson(base.schemaJson).asInstanceOf[StructType]
    val cond = PredicatePruning.analyze(spark, predicate, sch)
    (cond,
      cond.fold(base.liveFiles)(pruneFiles(base, _, sch, base.liveFiles)))
  }

  /** The one predicate file pruner, shared by the scan-time file index
    * and [[pruneByPredicate]]: per-file bounds
    * ([[PredicatePruning.candidateFiles]]), then bucket hashes
    * ([[pruneBucketsByPredicate]]), then literal Blooms
    * ([[pruneByLiteralBloom]]). `cond` is analyzed and spelled in the
    * snapshot's logical column names. */
  private def pruneFiles(ctx: Snapshot,
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      sch: StructType, files: Seq[String]): Seq[String] =
    pruneByLiteralBloom(ctx, cond, pruneBucketsByPredicate(ctx, cond,
      PredicatePruning.candidateFiles(cond, sch, files,
        ctx.entries.get(_).map(_.stats))))

  /** Bucket-partition pruning for predicates: a top-level
    * `source = literal` / `source IN (literals)` conjunct on a
    * `bucket(N, source)` table keeps only the files of the literals'
    * buckets — the hash is evaluated driver-side with the SAME
    * murmur3 bucket-id expression the write derived the directory
    * from (Spark's own, seed 42). (The
    * monotone transforms need nothing here: their source columns are
    * stored in the data files, so footer stats already range-prune.) */
  private def pruneBucketsByPredicate(base: Snapshot,
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      candidates: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{
      AttributeReference, EqualTo, In, Literal, Murmur3Hash}
    // base's own spec, not `partitionFields` — see pruneByPredicate's
    // schema note (the partial-snapshot path must stay current-free)
    val bucketFields = PartitionSpec.parseAll(base.partitionColumns)
      .filter(_.isBucketLike)
    if (bucketFields.isEmpty) return candidates
    var files = candidates
    def prune(name: String, lits: Seq[Literal]): Unit =
      bucketFields.find(_.source == name).foreach { f =>
        val vals = lits.filter(_.value != null).map { l =>
          f.transform match {
            case PartitionSpec.Bucket(n) =>
              // Spark's bucket-id function (murmur3 seed 42) — MUST
              // match Field.expr's write-side pmod(hash(col), n)
              val h = new Murmur3Hash(Seq(l)).eval(null).asInstanceOf[Int]
              java.lang.Math.floorMod(h, n).toLong
            case PartitionSpec.BucketIceberg(n) =>
              // the ICEBERG bucket hash — matches Field.expr's
              // write-side IcebergBucketId (and any external Iceberg
              // reader pruning the exported spec)
              IcebergBucketHash
                .bucketValue(l.value, l.dataType, n).toLong
            case other => throw new IllegalStateException(
              s"non-bucket transform $other in bucket pruning")
          }
        }.toSet
        if (lits.forall(_.value != null)) // null literals match nothing anyway
          files = files.filter { file =>
            base.entries(file).stats.get(f.dirName) match {
              case Some(cs) => vals.contains(cs.min.toLong)
              case None => true
            }
          }
      }
    PredicatePruning.conjuncts(cond).foreach {
      case EqualTo(a: AttributeReference, l: Literal) => prune(a.name, Seq(l))
      case EqualTo(l: Literal, a: AttributeReference) => prune(a.name, Seq(l))
      case In(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        prune(a.name, vs.map(_.asInstanceOf[Literal]))
      case _ => ()
    }
    files
  }

  /** Metadata-only manifest compaction (≡ Iceberg's
    * `rewrite_manifests`): regroup EVERY manifest entry into fresh
    * full-size chunks, path-sorted so hive partition directories land
    * contiguously — no data file moves, one commit. Two reasons to
    * run it: (1) heavy churn (many selective rewrites) leaves more,
    * smaller chunks than the incremental LSM fold alone repacks;
    * (2) interleaved multi-partition ingest leaves each chunk spanning
    * many partitions, so per-chunk summaries prune nothing — after the
    * path-sort, a partition-selective scan materializes only that
    * partition's chunks. Cost: O(live entries) driver work + rewriting
    * every chunk file once; at 10⁸ files schedule it like any other
    * maintenance pass. */
  def rewriteManifests(): Long =
    commitWithRetry(current)() { b =>
      commit(b, "rewrite-manifests", added = Nil, removed = Nil,
        rechunk = true)
    }

  /** Whole-table compaction: rewrite every live file into at most
    * `targetFilesPerPartition` files per hive partition (small-file
    * compaction — the maintenance operation an ingest-heavy lakehouse
    * schedules; content-identical, new snapshot). Like [[compactWhere]]
    * it commits nothing when every group is at target and no delete,
    * old schema / spec era or sort order is left to apply. See
    * [[rewriteDataFiles]]. */
  def compact(targetFilesPerPartition: Int = 1): Long =
    compact(targetFilesPerPartition, Nil)

  /** Compaction with multi-dimensional clustering (≡ Iceberg/Delta
    * `OPTIMIZE ... ZORDER BY`): rows are range-distributed and sorted by
    * the Z-VALUE (bit-interleaved rank) of the `clusterBy` columns, so
    * each rewritten file covers a narrow range of EVERY cluster column
    * at once and the manifest min/max stats prune multi-column
    * predicates that a single-column sort order cannot serve. The
    * per-column 16-bit rank is normalized against the global bounds
    * (one tiny agg over data the rewrite reads anyway); columns must be
    * numeric/date/timestamp/boolean (stat-domain orderable). Content is
    * identical; only layout changes. */
  def compact(targetFilesPerPartition: Int,
      clusterBy: Seq[String]): Long = {
    require(targetFilesPerPartition >= 1, "target must be >= 1")
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    clusterBy.foreach { c =>
      require(types.contains(c), s"no column $c to cluster by")
      require(types(c) != StringType && FileStats.supportsPruning(types(c)),
        s"cannot Z-order on ${types(c)} column $c (needs a numeric-" +
          "orderable stat domain)")
    }
    val base = current
    val settled = clusterBy.isEmpty && sortOrderColumns.isEmpty &&
      base.deletes.isEmpty && base.entries.valuesIterator.forall(e =>
        e.renames.isEmpty && e.specId == base.currentSpecId) &&
      base.liveFiles.groupBy(rewriteGroupOf(base, _)).values
        .forall(_.size <= targetFilesPerPartition)
    if (base.liveFiles.isEmpty || settled) base.snapshotId
    else rewriteDataFiles("compact", base, Seq(base.liveFiles),
      targetFilesPerPartition, clusterBy)
  }

  /** Predicate-scoped compaction (≡ Iceberg
    * `rewrite_data_files(where => …)` / Delta `OPTIMIZE t WHERE …`):
    * coalesce ONLY the files the predicate selects via MANIFEST
    * pruning ([[pruneByPredicate]]: per-file bounds, identity
    * partition values, hidden bucket hashes, literal Blooms) — at
    * 100 TB the maintenance pass rewrites one partition's files, not
    * the table. Selection is file-granular and layout-only: every row
    * of a selected file rewrites (content identical — the predicate
    * scopes, it does not filter), groups never cross partition dirs or
    * spec eras, and groups already at or under
    * `targetFilesPerPartition` files stay put. */
  def compactWhere(predicate: Column,
      targetFilesPerPartition: Int = 1): Long = {
    require(targetFilesPerPartition >= 1, "target must be >= 1")
    val base = current
    val rewritten = pruneByPredicate(base, predicate)
      .groupBy(rewriteGroupOf(base, _)).values
      .filter(_.size > targetFilesPerPartition).flatten.toSeq.sorted
    if (rewritten.isEmpty) base.snapshotId
    else rewriteDataFiles("compactWhere", base, Seq(rewritten),
      targetFilesPerPartition)
  }

  /** Size-aware binpack compaction (≡ Iceberg `rewrite_data_files`
    * binpack): coalesce SMALL files toward `targetFileBytes` outputs
    * and leave right-sized files untouched — at 100 TB the difference
    * between a maintenance pass that rewrites the whole table and one
    * whose write amplification is bounded by the small-file fraction.
    *
    * Candidate selection is pure MANIFEST arithmetic (entry sizes —
    * zero fs calls): live files under `targetFileBytes`, grouped by
    * partition directory + spec era (files of different hive layouts
    * can't share an output), greedy-packed into bins of roughly
    * `targetFileBytes`; only bins holding >= 2 files rewrite (each to
    * ONE output). Groups with fewer than `minInputFiles` candidates are
    * left alone. */
  def binPack(targetFileBytes: Long, minInputFiles: Int = 2): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(minInputFiles >= 2,
      "minInputFiles < 2 would rewrite lone files for nothing")
    val base = current
    val smalls = base.entries.valuesIterator
      .map(e => e.path -> e.info.bytes)
      .filter(_._2 < targetFileBytes).toSeq
    // on a sort-ordered table, bins are formed in RANGE order (files
    // ordered by their recorded min bound of the leading sort column,
    // not by path): disjoint input ranges then pack into contiguous,
    // still-disjoint output ranges, preserving single-file pruning
    val binOrder: Seq[(String, Long)] => Seq[(String, Long)] =
      sortOrderColumns.headOption.flatMap { c =>
        schema.fields.find(_.name == c).map { f =>
          // total order (strict weak ordering for TimSort): stat-less
          // files (e.g. written before a sort-column rename) sort first
          // among themselves by path, stat-bearing files by min bound
          // with a path tie-break — a partial sortWith here can throw
          // "Comparison method violates its general contract!"
          val ord = new Ordering[(String, Long)] {
            private def minOf(p: String): Option[String] =
              base.entries(p).stats.get(c)
                .flatMap(s => Option(s.min))
            def compare(x: (String, Long), y: (String, Long)): Int =
              (minOf(x._1), minOf(y._1)) match {
                case (Some(a), Some(b)) =>
                  val cv = FileStats.cmp(f.dataType, a, b)
                  if (cv != 0) cv else x._1.compareTo(y._1)
                case (None, None) => x._1.compareTo(y._1)
                case (None, _) => -1
                case (_, None) => 1
              }
          }
          (files: Seq[(String, Long)]) => files.sorted(ord)
        }
      }.getOrElse((files: Seq[(String, Long)]) => files.sortBy(_._1))
    val bins = Seq.newBuilder[Seq[String]]
    smalls.groupBy { case (f, _) => rewriteGroupOf(base, f) }
      .toSeq.sortBy(_._1._1).foreach { case (_, files) =>
        if (files.size >= minInputFiles) {
          var cur = List.empty[String]
          var bytes = 0L
          def flush(): Unit = {
            if (cur.sizeIs >= 2) bins += cur.reverse
            cur = Nil; bytes = 0L
          }
          binOrder(files).foreach { case (f, b) =>
            if (cur.nonEmpty && bytes + b > targetFileBytes) flush()
            cur ::= f; bytes += b
          }
          flush()
        }
      }
    val packed = bins.result()
    if (packed.isEmpty) base.snapshotId
    else rewriteDataFiles("binPack", base, packed, target = 1)
  }

  /** The (partition directory, spec era) a file belongs to: files of
    * different hive layouts never share one compaction group. */
  private def rewriteGroupOf(base: Snapshot, f: String): (String, Long) =
    (f.take(f.lastIndexOf('/') + 1), base.entries(f).specId)

  /** The one data-file rewrite engine (≡ Iceberg's `rewrite_data_files`
    * action, whose binpack / sort / z-order are strategies of it):
    * [[compact]], [[compactWhere]] and [[binPack]] only SELECT files;
    * this reads, lays out, guards and commits them once.
    *
    * `groups` are output groups: rows of different groups never share
    * an output file (binPack's bins); within a group the layout aims
    * at `target` files per (partition directory, spec era).
    *
    *  - READ through the delete set (with `_row_id` on lineage tables,
    *    so the rewrite preserves the ids).
    *  - LAYOUT, decided by the table: a Z-value range when `clusterBy`
    *    is given; else a range on the `write.sort.order` columns (a
    *    sort-ordered table's pruning depends on per-file bounds staying
    *    DISJOINT — a hash layout would widen every file to the whole
    *    key range); else a deterministic content-hash salt mod
    *    `target`. Range boundaries are sampled ONCE on the driver, so
    *    a retried task places every row identically, the same
    *    retry-safety bar the content-hash salt meets.
    *  - GUARD: with no delete artifact outstanding and every input's
    *    row count recorded, the output must carry exactly the input
    *    rows (manifest arithmetic, no extra job).
    *  - COMMIT: one `compact` snapshot. The new files' sequence
    *    outranks every existing delete, so nothing re-suppresses the
    *    rewritten rows; untouched files keep their deletes, and stale
    *    position-delete rows naming removed files match nothing. When
    *    every live file was rewritten, the delete artifacts are
    *    cleared — the rewrite already applied them all. */
  private def rewriteDataFiles(op: String, base: Snapshot,
      groups: Seq[Seq[String]], target: Int,
      clusterBy: Seq[String] = Nil): Long = labeled(op) {
    val rewritten = groups.flatten
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    // partition expressions: identity columns directly, transformed
    // fields via their derived expression (same value the write derives)
    val partExprs = partitionFields.map(f => f.expr(types(f.source)))
    // explicit numPartitions: an expression-only repartition would be
    // AQE-coalesced back into few partitions, defeating the file target
    val numParts = math.max(1L, groups.map(g =>
        g.map(rewriteGroupOf(base, _)).distinct.size.toLong)
      .sum * target).min(100000L).toInt
    // group id per source file: a per-file column of the rewrite's scan
    val grp = "__graft_group"
    val groupOf = groups.zipWithIndex.flatMap { case (fls, i) =>
      fls.map(_ -> i) }.toMap
    val (perFile, groupKey) =
      if (groups.size == 1) (Nil, Nil)
      else (Seq(StructField(grp, IntegerType) ->
        ((f: ManifestEntry) => groupOf(f.path))), Seq(col(grp)))
    val data = readFilesAs(base, rewritten, withLineage = rowLineageEnabled,
      perFile = perFile)
    val layoutKey = groupKey ++ partExprs
    val laidOut =
      if (clusterBy.nonEmpty) {
        // Z-order: one agg for the global bounds, then range-distribute
        // + sort by the interleaved rank
        val zcol = "__graft_zvalue"
        val encs = clusterBy.map(c => FileStats.boundExpr(c, types(c))
          .cast(DoubleType))
        val aggs = encs.flatMap(e => Seq(min(e), max(e)))
        val row = data.agg(aggs.head, aggs.tail: _*).head()
        val ranks = encs.zipWithIndex.map { case (e, i) =>
          val mn = Option(row.get(2 * i)).fold(0.0)(_.asInstanceOf[Double])
          val mx = Option(row.get(2 * i + 1))
            .fold(0.0)(_.asInstanceOf[Double])
          val norm =
            if (mx > mn) (e - lit(mn)) / lit(mx - mn) * lit(65535.0)
            else lit(0.0)
          // nulls sort first (rank 0), like a NULLS FIRST sort order
          coalesce(norm, lit(0.0)).cast(LongType)
        }
        val k = ranks.size
        val z = (0 until 16).flatMap { bit =>
          ranks.zipWithIndex.map { case (r, j) =>
            shiftleft(shiftright(r, bit).bitwiseAND(lit(1L)), bit * k + j)
          }
        }.reduce(_ + _) // disjoint bit positions: + == bitwise OR
        data.withColumn(zcol, z)
          .repartitionByRange(numParts, (layoutKey :+ col(zcol)): _*)
          .sortWithinPartitions((layoutKey :+ col(zcol)): _*)
          .drop(zcol)
      } else if (sortOrderColumns.nonEmpty) {
        val order = layoutKey ++ sortOrderColumns.map(col)
        data.repartitionByRange(numParts, order: _*)
          .sortWithinPartitions(order: _*)
      } else {
        // salt must be DETERMINISTIC per row (content hash, not
        // monotonically_increasing_id): a retried map task re-salting
        // rows differently than its first attempt would duplicate/lose
        // rows across reducers — and the rewrite retires the only
        // correct copy
        val salt = pmod(xxhash64(schema.fields.map(f =>
            LakeTable.comparableCol(f.name, f.dataType)).toIndexedSeq: _*),
          lit(target))
        data.repartition(numParts, (layoutKey :+ salt): _*)
      }
    val added = writeDataFiles(laidOut.drop(grp)).entries
    // row-conservation guard: a rewrite must carry every row it read
    if (base.deletes.isEmpty) {
      val expectRows = rewritten.map(base.entries(_).info.rows).sum
      val gotRows = added.map(_.info.rows).sum
      require(gotRows == expectRows,
        s"$op aborted before commit: rewrite carries $gotRows rows " +
          s"of $expectRows read — refusing to lose data")
    }
    val cleared = if ((base.entries -- rewritten).isEmpty) Some(Nil) else None
    commit(base, "compact", added = added, removed = rewritten,
      deletes = cleared)
  }

  /** Expire snapshots older than the latest `keepLast`, deleting their
    * metadata and any data file no longer referenced by a retained
    * snapshot (≡ Iceberg `expire_snapshots` maintenance). Incremental
    * scans can no longer start before the oldest retained snapshot. */
  def expireSnapshots(keepLast: Int): Unit = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val head = currentSnapshotId.getOrElse(return)
    val cutoff = head - keepLast // expire ids <= cutoff
    if (cutoff < 1) return
    expireWhere(_.snapshotId <= cutoff)
  }

  /** Expire every non-HEAD snapshot whose commit time is before
    * `cutoffTsMs` (≡ Iceberg `expire_snapshots(older_than => ts)`) —
    * the retention-window spelling maintenance jobs schedule. */
  def expireSnapshotsOlderThan(cutoffTsMs: Long): Unit = {
    val head = currentSnapshotId.getOrElse(return)
    expireWhere(s => s.timestampMs < cutoffTsMs && s.snapshotId != head)
  }

  private def expireWhere(shouldExpire: Snapshot => Boolean): Unit = {
    // iterate only RETAINED metadata — earlier expiries already removed
    // their files, so a plain id range would trip snapshot()'s existence
    // check. Snapshots pinned by a named ref (tag/branch) are protected
    // regardless of age, transitively keeping their files and chunks.
    val refIds = refs.values.map(_._2).toSet
    val (expired, kept) = snapshots.partition(s =>
      shouldExpire(s) && !refIds(s.snapshotId))
    // Expiry destroys the committed-ness evidence import-marker
    // recovery rides on ([[historyPaths]]): a marker lingering past
    // the expiry of every snapshot that referenced its committed
    // entries would make a later publish_staged re-commit the files —
    // a silent double-add whenever the entry files still physically
    // exist (e.g. a prior expiry crashed mid-delete). Clear such
    // markers NOW, while the evidence still exists: a marker entry
    // appearing ANYWHERE in history (retained or expiring) proves the
    // import committed — import dest paths carry a fresh UUID, so
    // nothing else can have put them there. Fresh-crash markers
    // (never committed; entries in no history) are untouched, keeping
    // their recovery automatic. Runs BEFORE any deletion, so a crash
    // leaves either full evidence or a cleared marker, never the
    // ambiguous middle state.
    if (expired.nonEmpty) {
      val allHist = (kept.iterator ++ expired.iterator)
        .flatMap(s => s.liveFiles.iterator ++ s.addedFiles.iterator ++
          s.removedFiles.iterator).toSet
      stagedIds.filter(_.startsWith("import-")).foreach { id =>
        val (_, _, entries, sources) = readStaged(id)
        if (sources.nonEmpty && entries.exists(e => allHist(e.path)))
          fs.delete(stagedPath(id), false)
      }
    }
    val keptFiles = kept.flatMap(_.liveFiles).toSet
    val keptDeletes = kept.flatMap(_.deletes.map(_.path)).toSet
    // manifest chunks are shared across snapshots by name — reclaim only
    // those no retained snapshot references
    val keptChunks = kept.flatMap(_.manifests).toSet
    // inline chunks hosted by an EXPIRING doc but referenced by a kept
    // snapshot must outlive their host: promote each to a real file of
    // the SAME NAME before any deletion. loadChunk prefers the file, so
    // a crash between promote and doc-delete just leaves two identical
    // copies; a re-run skips the already-promoted ones.
    if (expired.nonEmpty) {
      val expiredIds = expired.map(_.snapshotId).toSet
      keptChunks.toSeq.sorted.foreach {
        case n @ InlineChunkRe(vid) if expiredIds(vid.toLong) =>
          if (!fs.exists(new Path(metaDir, n)))
            ManifestIO.writeChunk(fs, metaDir, loadChunk(n), name = n)
        case _ => ()
      }
    }
    val doomedChunks = expired.flatMap(_.manifests).distinct
      .filterNot(keptChunks)
    doomedChunks.foreach(chunkCache.remove)
    val doomed: Seq[Path] =
      expired.flatMap(s => s.liveFiles.filterNot(keptFiles)).distinct
        .map(f => new Path(rootPath, f)) ++
      expired.flatMap(_.deletes.map(_.path))
        .distinct.filterNot(keptDeletes).map(f => new Path(rootPath, f)) ++
      doomedChunks.map(n => new Path(metaDir, n)) ++
      expired.map(s => docPath(s.snapshotId))
    deleteAll(doomed)
    // the summary cache holds only what history still has
    if (expired.nonEmpty && fs.exists(snaplogPath))
      writeSnaplog(kept.map(summaryOf))
  }

  /** Bounded-parallel fs deletes: maintenance against an object store is
    * latency-bound per call, so a serial driver loop over a 10⁵-file
    * expiry is hours at ~50 ms/RTT; 32 concurrent deletes make it
    * minutes. FileSystem implementations are thread-safe for delete. */
  private def deleteAll(paths: Seq[Path]): Unit = {
    if (paths.isEmpty) return
    if (paths.size == 1) { fs.delete(paths.head, false); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(32, paths.size))
    try {
      paths.map(p => pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = fs.delete(p, false)
      })).foreach(_.get())
    } finally pool.shutdown()
  }

  /** Roll the table back to `snapshotId` (≡ Iceberg
    * `rollback_to_snapshot`): commits a NEW snapshot restoring the
    * target's full state — data files, schema, renames, sequences, and
    * delete files. History is preserved (nothing is deleted), so the
    * rollback itself can be rolled back; a later [[expireSnapshots]]
    * reclaims the rolled-past data as usual. Driver-side manifest copy,
    * zero data movement. */
  def rollbackTo(snapshotId: Long): Long = {
    val base = current
    require(snapshotId <= base.snapshotId,
      s"cannot roll forward to $snapshotId (HEAD ${base.snapshotId})")
    if (snapshotId == base.snapshotId) return base.snapshotId
    val target = snapshot(snapshotId) // throws if expired
    commit(base, "rollback", added = Nil,
      removed = base.liveFiles.filterNot(target.entries.contains),
      restated = target.entries.values.toSeq,
      schemaJson = Some(target.schemaJson),
      deletes = Some(target.deletes),
      // the restored state is exactly the target's → its chunks are
      // reused verbatim and the rollback writes ~zero chunk bytes
      reuseChunksFrom = Seq(target),
      // restore the target's partition spec too (keep every spec both
      // eras know — expired-spec files may still exist elsewhere)
      specChange = Some((target.partitionColumns, target.currentSpecId,
        base.specsOrDefault ++ target.specsOrDefault)))
  }

  /** Delete files under `data/` and `deletes/` referenced by NO retained
    * snapshot and older than `olderThanMs` (≡ Iceberg
    * `remove_orphan_files`): debris of writers that died between the
    * staging move and their commit. The age gate keeps a LIVE writer's
    * freshly-moved files safe — never run with a small threshold while
    * writes are in flight. Returns the root-relative paths removed. */
  /** Consistency AUDIT of the current snapshot (≙ a lake `fsck`): one
    * row per check — `(check, ok, detail)`. The metadata level costs
    * zero data I/O (existence + recorded-size probes against the
    * manifest, O(live files) driver/fs calls); `deep = true` adds a
    * per-file ROW-COUNT recount (one grouped scan) compared against
    * the manifest's recorded rows — the check that catches a data file
    * swapped or truncated without its footer breaking. The operational
    * tool a 100 TB deployment runs after a storage incident, before
    * trusting metadata-only answers again. */
  def verifyTable(deep: Boolean = false): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val base = current
    def head(xs: Seq[String]): String = xs.take(5).mkString(", ") +
      (if (xs.size > 5) s", … ${xs.size} total" else "")

    val missing = base.liveFiles.filterNot(f =>
      fs.exists(new Path(rootPath, f)))
    val sizeBad = base.liveFiles.filter { f =>
      val p = new Path(rootPath, f)
      fs.exists(p) && fs.getFileStatus(p).getLen != base.entries(f).info.bytes
    }
    val delMissing = base.deletes.map(_.path)
      .filterNot(f => fs.exists(new Path(rootPath, f)))

    var rows = Seq(
      ("files_exist", missing.isEmpty,
        if (missing.isEmpty) s"${base.liveFiles.size} live files"
        else s"missing: ${head(missing)}"),
      ("file_sizes", sizeBad.isEmpty,
        if (sizeBad.isEmpty) "recorded bytes match the filesystem"
        else s"size mismatch: ${head(sizeBad)}"),
      ("delete_files_exist", delMissing.isEmpty,
        if (delMissing.isEmpty)
          s"${base.deletes.size} artifacts"
        else s"missing: ${head(delMissing)}"))

    if (deep) {
      // recount only files that exist (missing ones already reported);
      // RAW parquet reads — recorded rows are pre-MOR-delete counts
      val present = base.liveFiles.filterNot(missing.contains)
      val counted =
        if (present.isEmpty) Map.empty[String, Long]
        else spark.read
          .parquet(present.map(f => new Path(rootPath, f).toString): _*)
          .select(col("_metadata.file_path").as("f"))
          .groupBy(col("f")).agg(count(lit(1)).as("n"))
          .collect()
          .map(r => relativize(r.getString(0)) -> r.getLong(1)).toMap
      val rowBad = present.filter { f =>
        base.entries(f).info.rows != counted.getOrElse(f, 0L)
      }
      rows = rows :+ (("row_counts", rowBad.isEmpty,
        if (rowBad.isEmpty)
          s"${counted.values.sum} rows across ${present.size} files"
        else s"recount mismatch: ${head(rowBad)}"))

      // stats audit (footer reads only, no data I/O): re-collect each
      // file's footer bounds + null counts with the SAME code path the
      // write used and compare to the manifest — a file REPLACED in
      // place with matching size and row count would still answer
      // pruning decisions with stale bounds, the corruption mode the
      // size/rowcount probes cannot see. Renamed- or old-spec-era
      // files are skipped (their physical footer names differ by
      // design); comparison is over keys both sides report, minus
      // bloom pseudo-columns (computed post-collect).
      val sch = schema
      val fields = partitionFields
      val statsBad = present.filter { f =>
        val e = base.entries(f)
        val recorded = e.stats
        recorded.nonEmpty && e.renames.isEmpty &&
          e.specId == base.currentSpecId && scala.util.Try {
            val (actual, _) = FileStats.collect(hconf,
              new Path(rootPath, f), sch, fields, f)
            recorded.keys
              .filterNot(k => BloomStats.isBloomKey(k) ||
                FileStats.isSumKey(k)) // sums come from a data pass,
                                       // not the footer collector
              .exists(k => actual.get(k).exists(_ != recorded(k)))
          }.getOrElse(false)
      }
      rows = rows :+ (("file_stats", statsBad.isEmpty,
        if (statsBad.isEmpty)
          "recorded bounds/null counts match the footers"
        else s"stale stats: ${head(statsBad)}"))
    }
    rows.toDF("check", "ok", "detail")
  }

  /** Run this table's DECLARED maintenance policy in one call — the
    * nightly-job surface (`CALL system.maintain('t')`): each
    * `maintenance.*` table property, when present, drives one action,
    * so the schedule lives WITH the table instead of in every
    * operator's cron. Order: Z-order rewrite and small-file binpack
    * first (their retired inputs become expirable history), then
    * snapshot expiry, then orphan cleanup. Returns (action, detail)
    * per action run. */
  def maintain(): Seq[(String, String)] = {
    val props = properties
    val out = Seq.newBuilder[(String, String)]
    props.get(PROP_MAINT_ZORDER_COLUMNS).foreach { cs =>
      val cols = cs.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val snap = compact(1, cols)
      out += ("rewrite_data_files" ->
        s"zorder=${cols.mkString(",")} snapshot=$snap")
    }
    props.get(PROP_MAINT_BINPACK_BYTES).foreach { b =>
      val snap = binPack(b.toLong)
      out += ("rewrite_small_files" ->
        s"target-bytes=$b snapshot=$snap")
    }
    props.get(PROP_MAINT_CONSOLIDATE_DV).filter(_ == "true").foreach { _ =>
      val snap = consolidateDeleteVectors()
      out += ("consolidate_delete_vectors" -> s"snapshot=$snap")
    }
    props.get(PROP_MAINT_EXPIRE_KEEP).foreach { k =>
      expireSnapshots(k.toInt)
      out += ("expire_snapshots" -> s"keep-last=$k")
    }
    props.get(PROP_MAINT_EXPIRE_AGE_MS).foreach { a =>
      expireSnapshotsOlderThan(System.currentTimeMillis() - a.toLong)
      out += ("expire_snapshots_older_than" -> s"max-age-ms=$a")
    }
    props.get(PROP_MAINT_ORPHAN_AGE_MS).foreach { a =>
      val n = removeOrphanFiles(a.toLong).size
      out += ("remove_orphan_files" -> s"removed=$n")
    }
    // mirror publishes LAST: they hand off the post-maintenance state
    // (compacted files, folded deletes — the exporters refuse MOR
    // artifacts, so consolidation/compaction above is what makes a
    // delete-bearing table publishable at all)
    props.get(LakeTable.PROP_MAINT_PUBLISH_ICEBERG).foreach { dir =>
      out += ("publish_iceberg" -> IcebergExport.publish(this, dir))
    }
    props.get(LakeTable.PROP_MAINT_PUBLISH_DELTA).foreach { dir =>
      out += ("publish_delta" -> DeltaExport.publish(this, dir))
    }
    props.get(LakeTable.PROP_MAINT_PUBLISH_UNIFORM).foreach { dir =>
      out += ("publish_iceberg" -> IcebergExport.publish(this, dir))
      out += ("publish_delta" -> DeltaExport.publish(this, dir))
    }
    out.result()
  }

  def removeOrphanFiles(olderThanMs: Long = 3600000L): Seq[String] = {
    val retained = snapshots
    // staged-but-unpublished WAP changesets reference real data files
    // that no snapshot knows about yet — they are parked, not orphaned
    val staged = stagedIds.flatMap(id => readStaged(id)._3.map(_.path))
    val referenced = (retained.flatMap(s =>
      s.liveFiles ++ s.addedFiles ++ s.removedFiles ++
        s.deletes.map(_.path)) ++
      staged).toSet
    val referencedChunks = retained.flatMap(_.manifests).toSet
    // inclusive: mtimes are whole milliseconds, so debris written in the
    // cutoff's own millisecond is old enough (olderThanMs = 0 sweeps
    // everything unreferenced at the call)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    Seq(dataDir, new Path(rootPath, DELETES_DIR)).foreach { dir =>
      if (fs.exists(dir)) {
        val it = fs.listFiles(dir, true)
        while (it.hasNext) {
          val f = it.next()
          val rel = relativePath(rootPath, f.getPath)
          if (f.isFile && f.getPath.getName.endsWith(".parquet") &&
              !referenced(rel) && f.getModificationTime <= cutoff)
            removed += rel
        }
      }
    }
    // manifest chunks stranded by a lost race or crashed commit: named
    // m-<uuid>.json.gz, referenced by no RETAINED snapshot (a beyond-HEAD
    // crashed commit's JSON is itself dead — commit() reclaims it on the
    // next attempt of that version, never reusing its chunks)
    if (fs.exists(metaDir)) {
      fs.listStatus(metaDir).foreach { st =>
        val name = st.getPath.getName
        if (st.isFile && (ManifestIO.isChunkFile(name) ||
              InlineChunkRe.matches(name)) && // promoted-then-stranded
            !referencedChunks(name) && st.getModificationTime <= cutoff) {
          chunkCache.remove(name)
          removed += s"$METADATA_DIR/$name"
        }
        // snaplog temps stranded by a failed cache rename (writeSnaplog
        // only deletes its own temp on ITS failure branch; a crash
        // between write and rename leaves the file) — nothing ever
        // references them, so age is the only gate
        if (st.isFile && name.startsWith(".snaplog-") &&
            name.endsWith(".json") && st.getModificationTime <= cutoff)
          removed += s"$METADATA_DIR/$name"
      }
    }
    deleteAll(removed.toSeq.map(r => new Path(rootPath, r)))
    removed.toSeq
  }

  def drop(): Unit = fs.delete(rootPath, true)

  // ---------------------------------------------------------------- internal

  /** With `write.schema.auto-evolve=true`, source columns the table
    * lacks are ADDED (nullable, one metadata-only evolve-schema commit
    * each) before the write — ≡ Delta's `mergeSchema`/`autoMerge`
    * write option. Runs BEFORE the write captures its base snapshot,
    * so the data commit lands on the evolved schema instead of
    * tripping the retry loop's evolution refusal. Off by default: with
    * it on, a producer's typo'd column silently becomes table schema —
    * and a CDC pipeline's bookkeeping columns (Op, etc.) would too:
    * [[merge]] leaves out the ones its `deleteWhen` reads, other CDC
    * callers should pre-drop them or leave this off. */
  /** Column-name key under the session's resolution rules —
    * `spark.sql.caseSensitive` is false by default, so `ID` and `id`
    * are the SAME column and schema matching must agree with the
    * analyzer, or auto-evolve would add a case-duplicate column and
    * make every later read ambiguous. */
  private def resolveKey(name: String): String =
    if (spark.conf.get("spark.sql.caseSensitive", "false").toBoolean) name
    else name.toLowerCase(java.util.Locale.ROOT)

  private def autoEvolveFor(df: DataFrame): Unit = {
    if (!properties.get(PROP_AUTO_EVOLVE).contains("true")) return
    evolveSchemaFor(df)
  }

  /** Evolve THIS table's schema to accommodate `df`'s: source columns
    * the table lacks are added (nullable, metadata-only commits) and
    * table columns a wider source type arrives for are widened. The
    * unconditional core of the `write.schema.auto-evolve` property and
    * of SQL `MERGE WITH SCHEMA EVOLUTION`, where the statement itself
    * is the opt-in. */
  def evolveSchemaFor(df: DataFrame): Unit = {
    val byKey = schema.fields.map(f => resolveKey(f.name) -> f).toMap
    df.schema.fields.foreach { f =>
      byKey.get(resolveKey(f.name)) match {
        case None => addColumn(f.name, f.dataType, nullable = true)
        case Some(g) if g.dataType != f.dataType &&
            LakeTable.canWiden(g.dataType, f.dataType) =>
          // source arrived WIDER than the table column (e.g. long into
          // an int column): widen the table rather than letting
          // alignToSchema's narrowing cast corrupt out-of-range values
          widenColumnType(g.name, f.dataType)
        case _ => // same type, or a narrower/unrelated source type:
          // alignToSchema's cast to the table type handles it
      }
    }
  }

  /** `df` as the table's columns (CURRENT_DEFAULT or null for the ones
    * it lacks, cast to the table types), plus the `keep` columns
    * unchanged. */
  private def alignToSchema(df: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val want = schema
    val have: Map[String, String] =
      df.columns.map(n => resolveKey(n) -> n).toMap
    // columns the source lacks (e.g. added by addColumn after the
    // writer was built) fill with their declared CURRENT_DEFAULT, else
    // NULL — Iceberg's write behavior; missing non-nullable columns
    // without a default are still an error
    val missing = want.fields.filterNot(f => have.contains(resolveKey(f.name)))
    val missingRequired = missing.filterNot(f => f.nullable ||
      LakeTable.defaultSqlOf(f, LakeTable.CurrentDefaultKey).isDefined)
    require(missingRequired.isEmpty,
      "source is missing non-nullable table columns: " +
        missingRequired.map(_.name).mkString(", "))
    df.select(want.fields.map { f =>
      have.get(resolveKey(f.name)) match {
        // select by the SOURCE spelling, emit under the TABLE spelling
        case Some(src) => col(src).cast(f.dataType).as(f.name)
        case None =>
          LakeTable.defaultSqlOf(f, LakeTable.CurrentDefaultKey) match {
            case Some(sql) => expr(sql).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
      }
    }.toIndexedSeq ++ keep.map(col): _*)
  }

  /** Write df's rows as new Parquet data files (hive-partitioned when the
    * table has a partition spec) via a staging dir, then move each file
    * under data/, its input sized first ([[LakeTable.sizedForWrite]];
    * `bytes`: a rewrite's known size). Returns the table-root-relative
    * paths of the new files plus their per-column bounds (read from the
    * fresh Parquet footers — cost ∝ commit size, see [[FileStats]]). */
  private def writeDataFiles(df: DataFrame,
      bytes: Option[BigInt] = None): WriteResult = labeled("write") {
    val staging = new Path(rootPath, s".staging-${UUID.randomUUID()}")
    val conf = df.sparkSession.conf
    val tsTypeKey = "spark.sql.parquet.outputTimestampType"
    val priorTsType = conf.getOption(tsTypeKey)
    try {
      // INT96 timestamps carry no usable Parquet stats; micros do, and are
      // the modern representation every reader (incl. DuckDB) understands.
      // Restored below — the shared session's unrelated Parquet writes
      // must not silently change encoding.
      conf.set(tsTypeKey, "TIMESTAMP_MICROS")
      val sized = LakeTable.sizedForWrite(df, bytes, properties
        .get(PROP_TARGET_FILE_BYTES).flatMap(_.toLongOption)
        .filter(_ > 0L).getOrElse(DEFAULT_TARGET_FILE_BYTES))
      // local (in-partition) sort keeps every write path's file ranges
      // as tight as its partitioning allows — appends add the global
      // range-repartition, rewrites/compaction keep their own
      // partitioning and still benefit
      val sorted = sortOrderColumns match {
        case Nil => sized
        case cols => sized.sortWithinPartitions(cols.map(col): _*)
      }
      val codec = properties.getOrElse(PROP_COMPRESSION, "snappy")
      val sch = schema
      val fields = partitionFields
      // hidden partitioning: derive the transform columns map-side; the
      // hive write moves them into the directory layout (partitionBy
      // strips them from file content), so data files keep the SOURCE
      // column and readers never see the derived one
      val types = sch.fields.map(f => f.name -> f.dataType).toMap
      val derived = fields.filterNot(_.isIdentity).foldLeft(sorted) {
        (df, f) => df.withColumn(f.dirName, f.expr(types(f.source)))
      }
      var w = derived.write.mode("overwrite").option("compression", codec)
        // committer algorithm V1, deliberately: v2 task commits rename
        // straight into staging, so a task attempt dying MID-COMMIT (or
        // a retried nondeterministic upstream producing a different
        // file set) can leave stale extra files that listParquet would
        // promote to live data — duplicate rows no footer validation
        // catches (the exact failure class behind SPARK-33019 reverting
        // the v2 default). v1's job-commit rename pass is a handful of
        // directory renames per write — cheap on the no-fork local fs
        // and on any real store with atomic rename. Only the _SUCCESS
        // marker is skipped (listParquet never read it).
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      if (fields.nonEmpty)
        w = w.partitionBy(fields.map(_.dirName): _*)
      LakeTable.timed("w.parquet")(w.parquet(staging.toString))
      // validate what was actually WRITTEN (staging is still disposable —
      // a violation throws here and `finally` deletes it, so no live file
      // can ever hold a violating row). Identity partition columns live
      // in the hive dirs; supplying the table schema casts them back.
      if (hasWriteConstraints) {
        val readSchema = org.apache.spark.sql.types.StructType(
          sch.fields.filter(f => df.columns.contains(f.name)))
        enforceWriteConstraints(
          spark.read.option("basePath", staging.toString)
            .schema(readSchema).parquet(staging.toString))
      }
      val files = LakeTable.timed("w.list")(listParquet(fs, staging))
      // rename serially (cheap metadata ops; size captured from the
      // same status call), then read the footers in parallel — each
      // open is independent driver-side I/O, and a large
      // compact/overwrite commit would otherwise pay O(files) serial reads
      // single-bucket-field tables name their data files with Spark's
      // `_NNNNN` bucket-id suffix (parsed from the hive bucket dir the
      // hash-derived write placed them in) — the read side can then
      // claim a real BucketSpec and scans become bucketed
      // (storage-partitioned joins/aggs on the source column)
      val bucketDir: Option[String] = fields.collect {
        case fld if fld.transform.isInstanceOf[PartitionSpec.Bucket] =>
          fld.dirName
      } match {
        case Seq(one) => Some(one + "=")
        case _ => None
      }
      def withBucketSuffix(rel: String): String = bucketDir match {
        case None => rel
        case Some(prefix) =>
          val id = rel.split('/').collectFirst {
            case seg if seg.startsWith(prefix) => seg.stripPrefix(prefix)
          }.flatMap(v => scala.util.Try(v.toInt).toOption)
          id match {
            case Some(b) =>
              val slash = rel.lastIndexOf('/')
              val (dir, name) = rel.splitAt(slash + 1)
              val suffix = org.apache.spark.sql.execution.datasources
                .BucketingUtils.bucketIdToString(b)
              val dot = name.indexOf('.')
              if (dot < 0) dir + name + suffix
              else dir + name.substring(0, dot) + suffix + name.substring(dot)
            case None => rel
          }
      }
      val moved = LakeTable.timed("w.rename")(files.map { f =>
        val rel = withBucketSuffix(relativePath(staging, f))
        val dest = new Path(dataDir, rel)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(f, dest))
          throw new java.io.IOException(s"rename $f -> $dest failed")
        (s"$DATA_DIR/$rel", dest, fs.getFileStatus(dest).getLen)
      })
      val statsMap =
        new java.util.concurrent.ConcurrentHashMap[String, Map[String, ColStat]]()
      val infoMap =
        new java.util.concurrent.ConcurrentHashMap[String, FileInfo]()
      LakeTable.timed("w.stats")(
        moved.toList.asJava.parallelStream().forEach { case (key, dest, len) =>
          val (st, rows) = FileStats.collect(hconf, dest, sch, fields, key)
          if (st.nonEmpty) statsMap.put(key, st)
          infoMap.put(key, FileInfo(len, rows))
        })
      // per-file Bloom filters (opt-in, one distributed pass over the
      // fresh files per column) ride the stats map as __bloom__ pseudo-
      // columns — see BloomStats
      val bloomCols = properties.get(PROP_BLOOM_COLUMNS).toSeq
        .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
        .filter(sch.fieldNames.contains)
      if (bloomCols.nonEmpty && moved.nonEmpty) {
        val mBits = properties.get(PROP_BLOOM_BITS).map(_.toInt)
          .getOrElse(BloomStats.DefaultBits)
        BloomStats.build(spark, moved.map(_._2.toString),
            dataDir.toString, sch, bloomCols, mBits)
          .foreach { case (abs, blooms) =>
            val key = relativize(abs)
            statsMap.put(key,
              statsMap.getOrDefault(key, Map.empty) ++ blooms)
          }
      }
      // per-file EXACT sums (opt-in, integral columns): the metadata-
      // SUM leg of ManifestAggRule — one column-pruned pass over the
      // fresh files, same cost shape as the Bloom pass above. Identity
      // partition columns live in the hive dirs (not in file content)
      // and are excluded; their per-file sums would be value × rows,
      // derivable but out of scope.
      val aggCols = properties.get(PROP_AGG_COLUMNS).toSeq
        .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
        .filter(c => sch.fieldNames.contains(c) &&
          FileStats.supportsExactSum(sch(c).dataType) &&
          !fields.exists(f => f.isIdentity && f.source == c))
      if (aggCols.nonEmpty && moved.nonEmpty) {
        val byKey = FileStats.collectSums(spark,
            moved.map(_._2.toString), dataDir.toString, sch, aggCols)
          .map { case (abs, m) => relativize(abs) -> m }
        val zeros = aggCols.map(n =>
          FileStats.sumKey(n) -> ColStat("0", "0")).toMap
        moved.foreach { case (key, _, _) =>
          statsMap.put(key, statsMap.getOrDefault(key, Map.empty) ++
            byKey.getOrElse(key, zeros))
        }
      }
      WriteResult(moved.map { case (key, _, _) =>
        ManifestEntry(key, 0L, statsMap.getOrDefault(key, Map.empty),
          Map.empty, infoMap.get(key))
      })
    } finally {
      fs.delete(staging, true)
      priorTsType match {
        case Some(v) => conf.set(tsTypeKey, v)
        case None => conf.unset(tsTypeKey)
      }
    }
  }

  /** `input_file_name()` URI → table-root-relative path. Works on the
    * DECODED filesystem path (partition values may contain spaces etc.;
    * the URI form would leave literal %XX in the stored manifest and
    * break the re-read). */
  private def relativize(inputFileName: String): String = {
    val decoded =
      try {
        val uri = new java.net.URI(inputFileName)
        if (uri.getScheme != null) uri.getPath else inputFileName
      } catch { case _: java.net.URISyntaxException => inputFileName }
    val base = fs.makeQualified(dataDir).toUri.getPath.stripSuffix("/")
    require(decoded.startsWith(base + "/"),
      s"file $decoded not under table data dir $base")
    DATA_DIR + decoded.substring(base.length)
  }

  /** Commit the next snapshot on `base`. Its entries are `base`'s
    * minus `removed`, then `restated` taken as they are (entries an op
    * rewrites in place — a rename, drop or widen — or a rollback
    * restores), then `added`: new data files, stamped here with the data
    * sequence number (the new id), the committing spec id and, on a
    * row-lineage table, a first_row_id block. The entry update is
    * O(delta); the chunk plan reuses every parent chunk it can. */
  private def commit(base: Snapshot, op: String,
      added: Seq[ManifestEntry], removed: Seq[String],
      restated: Seq[ManifestEntry] = Nil,
      schemaJson: Option[String] = None,
      deletes: Option[Seq[DeleteEntry]] = None,
      reuseChunksFrom: Seq[Snapshot] = Nil,
      specChange: Option[(Seq[String], Long, Map[Long, Seq[String]])] = None,
      propertiesOverride: Option[Map[String, String]] = None,
      rechunk: Boolean = false): Long = {
    // the test seam fires between an op's artifact write and THIS
    // commit attempt (per attempt — specs interleave racing commits
    // deterministically on COW rewrite paths too, not just appends)
    beforeCommitHook()
    val id = base.snapshotId + 1
    // Append-shaped commits (nothing removed or restated — append, MOR
    // merge/delete/update) keep every base entry as it is, so the chunk
    // plan carries the parent's chunks by name without an equality
    // scan. An op that changes existing entries must never plan this
    // way. Re-adding a live or tombstoned path is not append-shaped
    // either: its old entry (or its tombstone) would shadow the new one.
    lazy val tombstoned = base.tombstones.toSet
    val appendShaped = removed.isEmpty && restated.isEmpty &&
      reuseChunksFrom.isEmpty && !added.exists(e =>
        base.entries.contains(e.path) || tombstoned(e.path))
    // row lineage: every added file gets a first_row_id block carved
    // from the row.next-id counter IN THIS COMMIT (no crash window —
    // ids and counter land atomically with the files); path-sorted so
    // assignment is deterministic within the commit
    val props0 = propertiesOverride.getOrElse(base.properties)
    val lineage = props0.get(PROP_ROW_LINEAGE).contains("true") &&
      added.nonEmpty
    var nextRowId = props0.get(PROP_NEXT_ROW_ID).map(_.toLong).getOrElse(0L)
    val firstRowIds: Map[String, Long] =
      if (!lineage) Map.empty
      else added.sortBy(_.path).collect {
        case e if e.info.firstRowId.isEmpty =>
          val first = e.path -> nextRowId
          nextRowId += e.info.rows
          first
      }.toMap
    val props1 =
      if (!lineage) props0
      else props0 + (PROP_NEXT_ROW_ID -> nextRowId.toString)
    val stamped = added.map(e => e.copy(seq = id,
      specId = base.currentSpecId,
      info = firstRowIds.get(e.path)
        .fold(e.info)(r => e.info.copy(firstRowId = Some(r)))))
    // partition-spec bookkeeping: an evolve-spec commit swaps the
    // current spec + registry
    val (pcols, curSpec, specs) = specChange.getOrElse(
      (base.partitionColumns, base.currentSpecId, base.partitionSpecs))
    val snap0 = Snapshot(id, Some(base.snapshotId), System.currentTimeMillis(),
      op, stamped.map(_.path) ++ restated.iterator.map(_.path)
        .filterNot(base.entries.contains),
      removed,
      (base.entries -- removed) ++
        (restated.iterator ++ stamped.iterator).map(e => e.path -> e),
      schemaJson.getOrElse(base.schemaJson), pcols, props1,
      // the ONE construction site of a new delete list: canonical
      // order, so this warm snapshot equals its decoded cold copy
      deletes = deletes.fold(base.deletes)(DeleteEntry.canonical),
      partitionSpecs = specs, currentSpecId = curSpec)
    // Chunk the per-file state (see ManifestIO): reuse every parent
    // chunk whose live entries are unchanged, tombstoning its removed
    // ones (rollback additionally offers its target's chunks), write
    // only the delta. Chunks are written
    // BEFORE the snapshot JSON's exclusive create — a lost race or
    // crash strands only uuid-named orphans that maintenance reclaims.
    //
    val planned = LakeTable.timed("c.plan") {
      if (rechunk)
        // forced full re-chunk (rewriteManifests): ignore every parent
        // chunk and regroup ALL entries path-sorted, so hive partition
        // dirs land contiguously and chunk summaries come out tight
        ManifestIO.Plan(Nil, snap0.entries.values.toVector.sortBy(_.path)
          .grouped(ManifestIO.ChunkTargetEntries).toVector)
      else if (appendShaped)
        ManifestIO.planAppend(base.manifests, base.tombstones, stamped,
          loadChunk)
      else {
        val candidateNames =
          (base.manifests ++ reuseChunksFrom.flatMap(_.manifests)).distinct
        ManifestIO.plan(snap0, candidateNames.map(n => n -> loadChunk(n)))
      }
    }
    // SMALL delta chunks EMBED in the snapshot doc (see
    // ManifestIO.listToJson's `inline` doc): the doc's exclusive
    // create carries them atomically — one fewer fsynced create per
    // commit in the high-frequency small-commit regime, and a lost
    // race or crash strands no orphan chunk file. LARGE chunks (bulk
    // appends, LSM fold outputs — the long-lived artifacts) stay real
    // files so the distributed `.files`/`.partitions` manifest scan
    // keeps its executor-side property: inline content is bounded by
    // the fold invariant to the small size classes. Expiry promotes
    // any still-referenced inline chunk to a real file before its
    // host doc dies.
    val inlined = scala.collection.mutable.Map
      .empty[String, Seq[ManifestEntry]]
    val newChunks = LakeTable.timed("c.chunkwrite")(
      planned.toWrite.zipWithIndex.map { case (entries, k) =>
        if (entries.size <= LakeTable.INLINE_CHUNK_MAX_ENTRIES) {
          val name = s"iv$id-$k.json.gz"
          inlined(name) = entries
          chunkCache.put(name, entries)
          name
        } else {
          val name = ManifestIO.writeChunk(fs, metaDir, entries)
          chunkCache.put(name, entries)
          name
        }
      })
    // chunk-level summaries for the manifest list: reused chunks carry
    // the parent's summary forward (O(1), no chunk read on the warm
    // path), fresh chunks summarize their own entries (O(delta))
    val listSchema = DataType.fromJson(snap0.schemaJson)
      .asInstanceOf[StructType]
    val parentSums = base.manifestSummaries
    val summaries: Map[String, Map[String, ColStat]] =
      LakeTable.timed("c.summaries")(
        (planned.reused.map(n => n -> parentSums.getOrElse(n,
            ManifestIO.summarize(loadChunk(n), listSchema))) ++
          newChunks.zip(planned.toWrite).map { case (n, es) =>
            n -> ManifestIO.summarize(es, listSchema) }).toMap)
    val snap = snap0.copy(manifests = planned.reused ++ newChunks,
      manifestSummaries = summaries, tombstones = planned.tombstones)
    // a losing racer's inline chunks exist ONLY in our cache — purge
    // them so a rebase never reads our content under the winner's
    // same-named chunk; file-backed ones are deleted like before
    def dropNewChunks(): Unit = newChunks.foreach { n =>
      chunkCache.remove(n)
      if (ManifestIO.isChunkFile(n)) fs.delete(new Path(metaDir, n), false)
    }
    // crash recovery: a doc left by a commit that died before its
    // HEAD swap (HEAD still == our base) is an orphan — remove it, or the
    // table could never commit again. Age-gated so a LIVE racing writer's
    // freshly-written file is never mistaken for one (racers collide
    // within ms and lose via the exclusive create; a crashed commit is
    // retried much later).
    val metaPath = docPath(id)
    LakeTable.timed("c.orphancheck") {
      if (fs.exists(metaPath) && currentSnapshotId.contains(base.snapshotId)
          && System.currentTimeMillis() -
            fs.getFileStatus(metaPath).getModificationTime > ORPHAN_GRACE_MS)
        fs.delete(metaPath, false)
    }
    // optimistic concurrency: exclusive create of the doc fails if a
    // racing writer committed the same version first. Normalize the
    // already-exists failure to ConcurrentModificationException, so
    // every losing racer sees ONE exception type (and [[append]] can
    // retry on it).
    val metaBytes = try LakeTable.timed("c.vjson")(
      ManifestIO.writeDoc(fs, metaDir, snap, inlined.toMap))
    catch {
      case e: java.io.IOException if fs.exists(metaPath) =>
        // lost the exclusive create: the winner's HEAD swap may still
        // be IN FLIGHT (a real cross-process window — the winner is
        // between create and swap for milliseconds of wall time), so
        // HEAD alone can't distinguish "lost the race" from "storage
        // trouble". The surviving doc IS the evidence. Ride the
        // swap out briefly so the retry loop observes the moved HEAD
        // and rebases; if HEAD never moves (winner crashed mid-swap),
        // the age-gated orphan recovery above unblocks a later attempt.
        dropNewChunks()
        val deadline = System.nanoTime() + 5_000_000_000L
        var sleep = 2L
        while (currentSnapshotId.contains(base.snapshotId) &&
            System.nanoTime() < deadline) {
          Thread.sleep(sleep)
          sleep = math.min(sleep * 2, 100L)
        }
        throw new java.util.ConcurrentModificationException(
          s"table $root: version $id was committed by a racing writer " +
            s"(${e.getMessage})")
      case e: java.io.IOException
          if !currentSnapshotId.contains(base.snapshotId) =>
        dropNewChunks()
        throw new java.util.ConcurrentModificationException(
          s"table $root HEAD moved past ${base.snapshotId} before " +
            s"commit of $id (${e.getMessage})")
      case e: Throwable =>
        dropNewChunks(); throw e
    }
    val now = LakeTable.timed("c.headcheck")(currentSnapshotId)
    if (!now.contains(base.snapshotId)) {
      // clean our metadata only while it is still beyond HEAD — if HEAD
      // reached id, the file may be the winner's current snapshot
      if (now.exists(_ < id)) { fs.delete(metaPath, false); dropNewChunks() }
      throw new java.util.ConcurrentModificationException(
        s"table $root HEAD moved to $now during commit of $id")
    }
    LakeTable.timed("c.head")(writeHead(id))
    // POST-SWAP OWNERSHIP CHECK: the age-gated orphan reclaim above
    // can — if THIS writer stalled past ORPHAN_GRACE_MS between its
    // doc write and here — have deleted our doc and
    // re-claimed the ordinal for another writer; both of us then swap
    // HEAD to the same id and OUR commit would silently vanish while
    // we report success (the one lost-commit window in the protocol).
    // Reading the id back closes it: after OUR swap no further reclaim
    // of this ordinal is possible (reclaim requires HEAD == base), so
    // a mismatch proves the reclaim happened and this commit must
    // surface the lost race for the retry loop to re-commit; the
    // reclaimer's commit is exactly the file at HEAD, so nothing is
    // torn. The read-back is one just-written (page-warm) metadata
    // file per commit, compared byte for byte with what we wrote.
    // Only a SUCCESSFUL read returning DIFFERENT content is reclaim
    // evidence. A transient IO failure here must NOT be treated as
    // reclaim: the swap already succeeded, so dropNewChunks() would
    // delete m-* chunks the live HEAD references (corruption) and the
    // CME would make the retry loop re-commit already-committed rows.
    // Retry the read briefly; if it keeps failing, propagate the IO
    // error with the chunks intact (the commit may well be live).
    val back = LakeTable.timed("c.ownership") {
      var last: Throwable = null
      var got: Array[Byte] = null
      var attempt = 0
      while (got == null && attempt < 3) {
        try got = ManifestIO.readDocBytes(fs, metaDir, id)
        catch {
          case e: java.io.IOException =>
            last = e; attempt += 1
            if (attempt < 3) Thread.sleep(5L << attempt)
        }
      }
      if (got == null) throw new java.io.IOException(
        s"table $root: post-swap ownership read-back of v$id failed " +
          "after the HEAD swap succeeded — the commit may be live; " +
          "verify before retrying", last)
      got
    }
    if (!java.util.Arrays.equals(back, metaBytes)) {
      dropNewChunks()
      throw new java.util.ConcurrentModificationException(
        s"table $root: version $id was reclaimed by a racing writer " +
          "while this commit was stalled (post-swap ownership check)")
    }
    id
  }

  private def writeHead(id: Long): Unit =
    pointerStore.write(headPath, id.toString)
}

/** One `WHEN` clause of a general MERGE ([[LakeTable.mergeClauses]]):
  * `condition` is the optional `AND <cond>` guard (absent = always
  * applies), `assignments` maps bare target column names to value
  * expressions for UPDATE/INSERT, or is None for DELETE. `star` is
  * `UPDATE SET *` / `INSERT *`: every target column takes the source's
  * same-named column (see [[MergeWhen.star]]). */
case class MergeWhen(condition: Option[org.apache.spark.sql.Column],
    assignments: Option[Map[String, org.apache.spark.sql.Column]],
    star: Boolean = false)

object MergeWhen {
  /** `[AND condition] THEN UPDATE SET *` (matched) or `INSERT *` (not
    * matched). */
  def star(condition: Option[org.apache.spark.sql.Column] = None)
      : MergeWhen = MergeWhen(condition, Some(Map.empty), star = true)
}

object LakeTable {

  /** Commit-path micro-timers, read by `graft.Prof`; replaced by
    * ROADMAP item 1's reports. Off by default, one atomic read per
    * section when disabled. */
  private[graft] val timersEnabled =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  private[graft] val timers = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()
  @inline private[graft] def timed[T](label: String)(f: => T): T =
    if (!timersEnabled.get) f
    else {
      val t0 = System.nanoTime()
      try f finally timers.computeIfAbsent(label,
          _ => new java.util.concurrent.atomic.AtomicLong)
        .addAndGet(System.nanoTime() - t0)
    }

  /** One snapshot's metadata-view summary (see
    * [[LakeTable.snapshotSummaries]]): everything `.history` /
    * `.snapshots` render, ~100 bytes instead of the full manifest
    * state. */
  final case class SnapSummary(id: Long, parentId: Option[Long],
      tsMs: Long, op: String, nAdded: Long, nRemoved: Long,
      nLive: Long)
  /** Lossless type promotions the parquet vectorized reader upcasts
    * natively at scan time (Spark 4.x type widening; each pair probed
    * on this runtime). long→double is NOT here: longs above 2^53 lose
    * precision. The matrix mirrors Iceberg's allowed schema
    * promotions, plus the int→double / date→timestamp_ntz pairs the
    * Spark 4 reader additionally supports. */
  def canWiden(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType)            => true
    case (IntegerType, LongType)                        => true
    // every int32 value is exact in a double (2^31 < 2^53)
    case (ByteType | ShortType | IntegerType, DoubleType) => true
    case (FloatType, DoubleType)                        => true
    case (a: DecimalType, b: DecimalType) =>
      // value-preserving iff integral digits don't shrink and the
      // scale doesn't shrink (reader pads added scale with zeros)
      b.scale >= a.scale && (b.precision - b.scale) >= (a.precision - a.scale)
    case (DateType, TimestampNTZType)                   => true
    case _                                              => false
  }

  /** Spark's own default-column field-metadata keys
    * (`ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY` /
    * `EXISTS_DEFAULT_…`) — stored under the same names so the schema
    * JSON round-trips Spark-idiomatically. EXISTS = what rows written
    * BEFORE the column existed read; CURRENT = what future writes fill
    * when the column is absent from the batch. */
  val CurrentDefaultKey = "CURRENT_DEFAULT"
  val ExistsDefaultKey = "EXISTS_DEFAULT"

  /** Table-property prefix for CHECK constraints (Delta's scheme). */
  val ConstraintPrefix = "constraints."

  /** Opt-in NOT NULL write enforcement (see enforceWriteConstraints). */
  val PropEnforceNotNull = "write.enforce-not-null"

  /** The stored default SQL under `key` for field `f`, if any. */
  private[lake] def defaultSqlOf(f: StructField, key: String): Option[String] =
    if (f.metadata.contains(key)) Some(f.metadata.getString(key)) else None

  /** Scalar (non-nested) type — what ANALYZE … FOR COLUMNS can
    * summarize with min/max/ndv. */
  private[lake] def isScalarType(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case NullType | CalendarIntervalType => false
    case _ => true
  }

  val METADATA_DIR = "metadata"
  /** Largest delta chunk embedded in its snapshot doc instead of a
    * file of its own (see commit()'s chunk-write step): small enough
    * that the inline share of the manifest stays in the LSM fold's
    * small size classes — the distributed `.files` scan keeps reading
    * the big chunks executor-side — while the dominant high-frequency
    * commit shapes (single-file appends, MOR delete artifacts,
    * checkpoint bumps) pay zero chunk creates. */
  val INLINE_CHUNK_MAX_ENTRIES = 64
  /** Nominal block size for manifest-built [[FileStatus]]es (local
    * split planning uses maxPartitionBytes, not this). */
  private val DefaultBlockSize: Long = 128L * 1024 * 1024
  val DATA_DIR = "data"
  val DELETES_DIR = "deletes"
  val HEAD = "HEAD"
  val REFS = "refs.json"
  /** Bounds-map type of the `.files` metadata view. */
  private val BOUNDS_TYPE = MapType(StringType,
    StructType(Seq(StructField("min", StringType),
      StructField("max", StringType))))
  /** Read schema for manifest chunk JSONs (executor-side `.files` scan;
    * mirrors [[ManifestIO.chunkToJson]] minus `renames`, which no
    * metadata view reports). */
  private val CHUNK_READ_SCHEMA = StructType(Seq(
    StructField("entries", ArrayType(StructType(Seq(
      StructField("path", StringType),
      StructField("seq", LongType),
      StructField("stats", BOUNDS_TYPE),
      StructField("bytes", LongType),
      StructField("rows", LongType)))))))
  val PROP_COMPRESSION = "write.parquet.compression-codec"
  /** Output file size goal of every data-file write (≡ Iceberg
    * `write.target-file-size-bytes`); see [[sizedForWrite]]. */
  val PROP_TARGET_FILE_BYTES = "write.target-file-size-bytes"
  val DEFAULT_TARGET_FILE_BYTES: Long = 128L * 1024 * 1024
  /** Comma-separated sort columns (≡ Iceberg sort orders): appends
    * range-cluster on them so per-file stats ranges are disjoint. */
  val PROP_SORT_ORDER = "write.sort.order"
  val PROP_MERGE_MODE = "write.merge.mode"
  /** `none` (default) | `hash` — see distributeForWrite. */
  val PROP_DISTRIBUTION_MODE = "write.distribution-mode"
  val PROP_DELETE_MODE = "write.delete.mode"
  val PROP_UPDATE_MODE = "write.update.mode"
  /** `fail` (default) | `recompute` — whether a COW rewrite losing a
    * commit race re-executes against the new HEAD (serial schedule)
    * or surfaces the ConcurrentModificationException. */
  val PROP_CONFLICT_MODE = "commit.conflict-mode"
  val PROP_AUTO_EVOLVE = "write.schema.auto-evolve"
  /** Comma-separated columns to build per-file Bloom filters for (see
    * [[BloomStats]]); empty/absent = none. */
  /** Opt-in row lineage (Iceberg v3 shape): `write.row-lineage=true`
    * (set at CREATE — rows written before enablement have no ids). */
  val PROP_ROW_LINEAGE = "write.row-lineage"
  /** Row-lineage id counter: the next unassigned row id. Advanced by
    * every commit's added row count (rewrites included — carried rows
    * leave their fresh slots unused, like Iceberg's next-row-id). */
  val PROP_NEXT_ROW_ID = "row.next-id"
  /** Lineage column [[LakeTable.scanWithLineage]] exposes; physically
    * present only in REWRITTEN files (null there = row inserted by the
    * rewrite, resolved to first_row_id + position). */
  val ROW_ID_COL = "_row_id"

  /** Declared maintenance policy (see [[LakeTable.maintain]]): each
    * property present enables one action of `CALL system.maintain`. */
  val PROP_MAINT_ZORDER_COLUMNS = "maintenance.zorder.columns"
  val PROP_MAINT_CONSOLIDATE_DV = "maintenance.consolidate-dv"
  val PROP_MAINT_BINPACK_BYTES = "maintenance.binpack.target-bytes"
  val PROP_MAINT_EXPIRE_KEEP = "maintenance.expire.keep-last"
  val PROP_MAINT_EXPIRE_AGE_MS = "maintenance.expire.max-age-ms"
  val PROP_MAINT_ORPHAN_AGE_MS = "maintenance.orphans.min-age-ms"
  /** Mirror-publish policies: each maintain() run appends the current
    * snapshot to the named interop directory (Iceberg metadata / Delta
    * log / both side by side) — the nightly handoff travels with the
    * table like every other policy. Idempotent when HEAD is already
    * published. */
  val PROP_MAINT_PUBLISH_ICEBERG = "maintenance.publish-iceberg"
  val PROP_MAINT_PUBLISH_DELTA = "maintenance.publish-delta"
  val PROP_MAINT_PUBLISH_UNIFORM = "maintenance.publish-uniform"
  /** "true" ⇒ Delta publishes also PRODUCE Change Data Feed: spec cdc
    * actions + `_change_data/` files derived from the table's own
    * changelog, so a delta-spark consumer can `readChangeFeed` the
    * mirror. Non-insert ranges must publish PER COMMIT (continuous
    * mode) — see [[DeltaExport]]. */
  val PROP_PUBLISH_CDF = "publish.delta.change-data-feed"

  val PROP_BLOOM_COLUMNS = "write.bloom.columns"
  /** Comma list of INTEGRAL columns whose exact per-file sums are
    * recorded at write (`__sum__` pseudo-stats) — enables
    * ManifestAggRule's metadata-only SUM leg. */
  val PROP_AGG_COLUMNS = "write.agg.columns"
  /** Filter size in bits (default [[BloomStats.DefaultBits]]). */
  val PROP_BLOOM_BITS = "write.bloom.bits"
  val PROP_FORMAT_VERSION = "format-version"
  /** ANALYZE TABLE output (see [[LakeTable.analyze]]). */
  val PROP_STATS_ROWS = "stats.num_rows"
  val PROP_STATS_BYTES = "stats.size_bytes"
  val PROP_STATS_SNAPSHOT = "stats.analyzed_snapshot"
  /** Min age before a beyond-HEAD metadata file counts as a crashed
    * commit's orphan (see commit()). MUST stay well above the losing
    * racer's 5 s HEAD-swap ride-out: at parity, an impatient loser's
    * retry reclaims the ordinal of a winner stalled barely past 5 s
    * between its v-file write and HEAD swap — both then swap HEAD to
    * the same id and one commit vanishes (observed once under double
    * co-tenant load, round 17; the post-swap ownership check in
    * commit() now also detects the reclaim, and this margin makes it
    * need a full 60 s driver stall first). */
  val ORPHAN_GRACE_MS: Long = 60000L
  /** Max optimistic commit attempts for retry-safe ops (append). */
  val MAX_COMMIT_ATTEMPTS: Int = 5
  private val FILE_COL = "__graft_file"
  private val SRC_MARK = "__graft_is_src"
  private val TGT_MARK = "__graft_is_tgt"
  /** Source-side flag of [[LakeTable.merge]]'s `deleteWhen`, evaluated
    * on the raw source before alignment and the join. */
  private val SRC_DELETE_FLAG = "__graft_src_delete"
  /** Changelog output columns (≡ Iceberg's `_change_type` etc.). */
  val CHANGE_TYPE_COL = "_change_type"
  val CHANGE_SNAP_COL = "_commit_snapshot_id"

  /** Result of one data-file write: one entry per new file (root-
    * relative path, column bounds, size and row count), not yet
    * stamped by a commit. */
  private[lake] final case class WriteResult(entries: Seq[ManifestEntry]) {
    def files: Seq[String] = entries.map(_.path)
  }
  private[lake] val NoWrite = WriteResult(Nil)
  /** Physical-name prefix guaranteed never to be written by this engine:
    * addColumn maps the new column here for pre-existing files, so they
    * read NULL even if they carry dead bytes under the same name. */
  private val ABSENT_PREFIX = "__graft_absent_"

  /** Spark pins VariantType unorderable: no hash, no comparison, no
    * set operations. Wherever the engine hashes or set-differences a
    * ROW IMAGE, each variant-bearing column substitutes its canonical
    * JSON text (value-equal variants serialize identically). */
  private[lake] def containsVariant(dt: DataType): Boolean = dt match {
    case VariantType => true
    case s: StructType => s.fields.exists(f => containsVariant(f.dataType))
    case ArrayType(e, _) => containsVariant(e)
    case MapType(k, v, _) => containsVariant(k) || containsVariant(v)
    case _ => false
  }

  /** The hashable/comparable projection of a column: variant-bearing
    * columns become their JSON text, everything else passes through.
    * Comparison-only callers (salts, change tests) never restore. */
  private[lake] def comparableCol(name: String, dt: DataType): Column =
    if (containsVariant(dt)) to_json(col(name)) else col(name)

  /** Output sizing of every data-file write (≡ what Iceberg's write
    * distribution and Delta's optimized writes do to file counts, minus
    * their shuffle): `coalesce` — narrow, no job, never widening — to
    * ceil(bytes / `target`) tasks, `bytes` being the caller's known size
    * else [[estimatedBytes]]. A deliberate width (a repartition or
    * coalesce on the plan's spine: the caller's own, a sort-order
    * append, hash distribution, a compaction layout) is kept. */
  private[lake] def sizedForWrite(df: DataFrame, bytes: Option[BigInt],
      target: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def deliberate(p: LogicalPlan): Boolean = p match {
      case _: Repartition | _: RepartitionByExpression => true
      case _: Project | _: Filter | _: SubqueryAlias | Sort(_, false, _, _) =>
        deliberate(p.children.head)
      case _ => false
    }
    if (deliberate(df.queryExecution.analyzed)) df
    else bytes.orElse(estimatedBytes(df))
      .map(b => (b + target - 1) / target).filter(_ < Int.MaxValue)
      .fold(df)(n => df.coalesce(n.toInt.max(1)))
  }

  /** Catalyst's size estimate of `df` (what Spark trusts for broadcast
    * decisions), or None when it is no upper bound: the plan can grow
    * rows (explode, typed `flatMap` / `mapPartitions` / group functions). */
  private[lake] def estimatedBytes(df: DataFrame): Option[BigInt] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val qe = df.queryExecution
    if (qe.analyzed.exists {
      case _: Generate | _: MapPartitions | _: MapGroups | _: CoGroup |
          _: FlatMapGroupsWithState => true
      case _ => false
    }) None else Some(qe.optimizedPlan.stats.sizeInBytes)
  }

  /** Persist `df` (MEMORY_AND_DISK) when its plan is genuinely
    * expensive to recompute AND it will be consumed by several
    * independent actions (guide §5: reused AND costly ⇒ cache) —
    * returns `df` itself otherwise. "Expensive" = the optimized plan
    * holds an aggregation/join/window/dedup (an MV refresh's folded
    * changelog, a CDC fold, an SCD2 version window): those re-run
    * their shuffles once per consumer, while a bare scan/filter/
    * project re-reads a pruned columnar scan for which a cache costs
    * MORE than the reruns. Variant schemas skip — the columnar cache
    * admits no variant batches. Caller must unpersist in a finally. */
  private[lake] def cacheIfExpensive(df: DataFrame): DataFrame = {
    val worthCaching = df.queryExecution.optimizedPlan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        true
      case _: org.apache.spark.sql.catalyst.plans.logical.Join => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Window => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Deduplicate =>
        true
      case _ => false
    }
    if (worthCaching &&
        !df.schema.fields.exists(f => containsVariant(f.dataType)))
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else df
  }

  /** `a.exceptAll(b)` with TOP-LEVEL variant columns carried through
    * as JSON text and parsed back after the set op (value-exact:
    * parse_json ∘ to_json is the identity on variant values, and SQL
    * NULL vs variant JSON-null survives — to_json maps them to NULL
    * vs "null"). A variant NESTED inside a struct/array/map has no
    * column-level inverse here and refuses loudly rather than
    * returning a silently re-typed frame. */
  /** BOTH-DIRECTION multiset difference in ONE shuffle (optimization
    * guide §2.3/§2.4): returns `exceptAll(post, pre)` rows tagged
    * `insert` unioned with `exceptAll(pre, post)` rows tagged `delete`,
    * each with the change-snapshot column — the per-commit changelog
    * leg of [[changes]]. The exceptAll PAIR the previous formulation
    * paid rewrites to TWO full-row-wide hash aggregations over
    * (post ∪ pre) and scans each side twice; this computes one signed
    * count per distinct row (insert +1 / delete −1, the same grouping
    * semantics EXCEPT ALL uses — nulls equal, NaN/-0.0 normalized) and
    * emits |count| replicas on the winning side: half the wide
    * shuffles, half the file scans, identical multiset result.
    * Variant columns ride as canonical JSON exactly like
    * [[exceptAllVariantSafe]] (variant itself is unorderable). */
  private[lake] def symmetricDiffTagged(post: DataFrame, pre: DataFrame,
      id: Long, changeTypeCol: String = CHANGE_TYPE_COL,
      changeSnapCol: String = CHANGE_SNAP_COL): DataFrame = {
    val sch = post.schema
    val vf = sch.fields.filter(f => containsVariant(f.dataType))
    vf.foreach(f => require(f.dataType == VariantType,
      s"column ${f.name}: a variant nested inside " +
        s"${f.dataType.simpleString} cannot ride a set-difference " +
        "(no lossless restore) — restructure the column or use a " +
        "row-lineage table, whose change classification never " +
        "set-differences full rows"))
    def j(df: DataFrame) = df.select(sch.fields.map(f =>
      if (f.dataType == VariantType) to_json(col(f.name)).as(f.name)
      else col(f.name)).toIndexedSeq: _*)
    val sgn = "__graft_sgn"
    val d = "__graft_d"
    val names = sch.fieldNames.toIndexedSeq
    val diff = j(post).withColumn(sgn, lit(1L))
      .unionByName(j(pre).withColumn(sgn, lit(-1L)))
      .groupBy(names.map(col): _*)
      .agg(sum(col(sgn)).as(d))
      .where(col(d) =!= 0L)
    diff
      // one output row per |count| replica, exceptAll's multiset law
      .withColumn("__graft_rep",
        explode(array_repeat(lit(1), abs(col(d)).cast("int"))))
      .select(names.map(f =>
        if (sch(f).dataType == VariantType) parse_json(col(f)).as(f)
        else col(f)) ++ Seq(
        when(col(d) > 0L, lit("insert")).otherwise(lit("delete"))
          .as(changeTypeCol),
        lit(id).as(changeSnapCol)): _*)
  }

  private[lake] def exceptAllVariantSafe(a: DataFrame,
      b: DataFrame): DataFrame = {
    val sch = a.schema
    val vf = sch.fields.filter(f => containsVariant(f.dataType))
    if (vf.isEmpty) return a.exceptAll(b)
    vf.foreach(f => require(f.dataType == VariantType,
      s"column ${f.name}: a variant nested inside " +
        s"${f.dataType.simpleString} cannot ride a set-difference " +
        "(no lossless restore) — restructure the column or use a " +
        "row-lineage table, whose change classification never " +
        "set-differences full rows"))
    def j(df: DataFrame) = df.select(sch.fields.map(f =>
      if (f.dataType == VariantType) to_json(col(f.name)).as(f.name)
      else col(f.name)).toIndexedSeq: _*)
    j(a).exceptAll(j(b)).select(sch.fields.map(f =>
      if (f.dataType == VariantType) parse_json(col(f.name)).as(f.name)
      else col(f.name)).toIndexedSeq: _*)
  }

  /** Partition-spec validation shared by create and evolve:
    * entries are identity column names or transform specs
    * ("bucket(8, key)", "day(ts)", … — see [[PartitionSpec]]). */
  private[lake] def validateSpec(schema: StructType,
      partitionBy: Seq[String]): Unit =
    PartitionSpec.parseAll(partitionBy).foreach { f =>
      require(schema.fieldNames.contains(f.source),
        s"partition source column ${f.source} not in schema")
      require(f.validFor(schema(f.source).dataType),
        s"partition transform '${f.spec}' not applicable to " +
          s"${schema(f.source).dataType.simpleString} ${f.source}")
      require(f.isIdentity || !schema.fieldNames.contains(f.dirName),
        s"derived partition name ${f.dirName} collides with a column")
    }

  def exists(spark: SparkSession, root: String): Boolean =
    // resolved through the pointer store: HEAD is its generation files
    // (`.ptr-HEAD/gen-<n>`), never a literal HEAD file
    new LakeTable(spark, root).currentSnapshotId.isDefined

  /** DDL create with an explicit schema (≡ reference K5,
    * scripts/bronze-silver.py:171-207): commits an empty `create`
    * snapshot v1 carrying schema + partition spec + properties. */
  def create(spark: SparkSession, root: String, schema: StructType,
      partitionBy: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): LakeTable = {
    require(!exists(spark, root), s"table $root already exists")
    validateSpec(schema, partitionBy)
    // the lineage column is engine-assigned; a user column of the same
    // name would duplicate in every lineage projection and COW rewrite
    require(!properties.get(PROP_ROW_LINEAGE).contains("true") ||
        !schema.fieldNames.contains(ROW_ID_COL),
      s"column name $ROW_ID_COL is reserved on a $PROP_ROW_LINEAGE=true " +
        "table (engine-assigned row lineage)")
    val t = new LakeTable(spark, root)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(root, METADATA_DIR))
    fs.mkdirs(new Path(root, DATA_DIR))
    val snap = Snapshot(1L, None, System.currentTimeMillis(), "create",
      Nil, Nil, VectorMap.empty, schema.json, partitionBy, properties)
    ManifestIO.writeDoc(fs, new Path(root, METADATA_DIR), snap)
    t.writeHead(1L)
    t
  }

  def load(spark: SparkSession, root: String): LakeTable = {
    require(exists(spark, root), s"no lake table at $root")
    new LakeTable(spark, root)
  }

  /** Create-if-absent then overwrite with df's data (≡ reference's
    * first-run `mode("overwrite").saveAsTable`, scripts/raw-bronze.py:183-185). */
  def createOrReplace(spark: SparkSession, root: String, df: DataFrame,
      partitionBy: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): LakeTable = {
    val t =
      if (exists(spark, root)) load(spark, root)
      else create(spark, root, df.schema, partitionBy, properties)
    t.overwrite(df)
    t
  }

  // ------------------------------------------------------------- fs helpers

  private[graft] def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  private[graft] def writeStringExclusive(fs: FileSystem, p: Path,
      s: String): Unit =
    writeBytesExclusive(fs, p, s.getBytes(StandardCharsets.UTF_8))

  /** Exclusive create of `p` holding `bytes`. Hadoop's local create
    * checks for the file and then opens it truncating, so two racing
    * creators can both succeed and the later one silently replaces the
    * earlier's commit; on the raw local FS the create is one O_EXCL
    * open instead (`CREATE_NEW`), the conditional PUT the commit
    * protocol assumes. */
  private[graft] def writeBytesExclusive(fs: FileSystem, p: Path,
      bytes: Array[Byte]): Unit = fs match {
    case local: RawLocalFileSystem =>
      val f = local.pathToFile(p).toPath
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
    case _ =>
      val out = fs.create(p, false) // overwrite=false → exclusive
      try out.write(bytes) finally out.close()
  }

  private[lake] def listParquet(fs: FileSystem, dir: Path): Seq[Path] = {
    // local-fs fast path: Hadoop's recursive RemoteIterator pays a
    // listStatus + checksum-sibling filter per directory plus a
    // getFileStatus per entry — ~50-800 ms on a hive-partitioned
    // staging tree (w.list was ~6% of whole-bench wall). One NIO walk
    // returns the same file set in <1 ms. Non-file schemes (prod
    // object stores / HDFS) keep the Hadoop listing.
    if ("file" == dir.toUri.getScheme ||
        (dir.toUri.getScheme == null && "file" == fs.getScheme)) {
      val root = java.nio.file.Paths.get(dir.toUri.getPath)
      if (!java.nio.file.Files.isDirectory(root)) return Nil
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet") &&
            java.nio.file.Files.isRegularFile(p))
          .map(p => new Path(p.toUri)).toSeq
      } finally s.close()
    } else {
      val it = fs.listFiles(dir, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet"))
          buf += f.getPath
      }
      buf.toSeq
    }
  }

  private[lake] def relativePath(base: Path, child: Path): String = {
    val bs = base.toUri.getPath.stripSuffix("/")
    val cs = child.toUri.getPath
    require(cs.startsWith(bs + "/"), s"$child not under $base")
    cs.substring(bs.length + 1)
  }
}
