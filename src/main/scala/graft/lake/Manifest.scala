package graft.lake

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

/** The record of ONE live data file: everything the table tracks per
  * file, held as is by [[Snapshot.entries]] in memory and by a manifest
  * CHUNK on disk.
  *
  * Mirrors an Iceberg manifest entry (data file path, size, record
  * count, column bounds, data sequence number, spec id); the reference's
  * stack gets this layering from Iceberg's format-version 2 (reference:
  * scripts/bronze-silver.py:197 sets `format-version=2`). */
final case class ManifestEntry(
    path: String,
    /** Data sequence number: the id of the snapshot that added the file
      * (≡ Iceberg's data sequence numbers), stamped by the commit.
      * Equality deletes apply only to files with a STRICTLY lower
      * sequence, so a merge's own after-image is never suppressed by
      * its own delete file. 0 only on an entry no commit has stamped
      * yet (a write's result, a staged changeset's parked entry). */
    seq: Long,
    /** Per-column min/max bounds in [[FileStats]]' normalized domain —
      * what MERGE/DELETE and scans prune against. An absent column (or
      * an empty map) means unknown bounds: conservatively scanned. */
    stats: Map[String, ColStat],
    /** Schema-evolution name mapping: current column name → PHYSICAL
      * column name as written in the file. Only columns renamed or
      * added after the file was written appear; absent = the physical
      * name equals the current one. The name-mapped equivalent of
      * Iceberg's field-id indirection: renames stay metadata-only. */
    renames: Map[String, String],
    /** Size and row count (≡ Iceberg's `file_size_in_bytes` /
      * `record_count`, required here as there). */
    info: FileInfo,
    /** Partition-spec id the file was WRITTEN under (0 = creation
      * spec): a scan reads files of different layout eras with separate
      * per-era scans (≡ Iceberg's per-file spec id). */
    specId: Long = 0L)

/** Chunked manifest IO — the scalable commit-metadata layer.
  *
  * Why: serializing the ENTIRE live-file manifest into every snapshot
  * doc is O(table) metadata written per commit — invisible at test
  * scale, the metadata layer's bottleneck at 100 TB (~10⁶ files ×
  * ~1 KB of JSON stats each ⇒ ~1 GB rewritten per append). Iceberg's
  * answer is manifest files + a manifest list that REUSES the parent
  * snapshot's manifests; this is the same shape:
  *
  *   - each live file's [[ManifestEntry]] (the one per-file record,
  *     see [[Snapshot.entries]]) lives in an immutable chunk file
  *     (`metadata/m-<uuid>.json.gz`, ≤ [[ChunkTargetEntries]] entries,
  *     compact JSON, gzip-compressed), written and read field for
  *     field;
  *   - each snapshot doc (`metadata/v<id>.json.gz`, compact JSON, gzip)
  *     carries only scalars, the commit's file DELTA, the (small)
  *     delete-file lists, the NAMES of the chunks covering its live
  *     files and the `tombstones`: paths those chunks still hold that
  *     are no longer live;
  *   - a commit reuses every parent chunk whose entries for still-live
  *     paths are unchanged, masking its removed paths behind tombstones
  *     (≡ Iceberg's DELETED manifest entries), and writes the added
  *     entries as fresh chunks — O(delta) metadata bytes per commit. A
  *     chunk whose live entry changed, a chunk at least half dead, and
  *     every tombstoned chunk once the doc would carry more than
  *     [[MaxTombstones]] are rewritten to their survivors instead;
  *   - small chunks are folded together LSM-style by size class
  *     ([[MergeFanout]] per level) so N single-file appends settle into
  *     O(N/target + log N) chunks, with each fold writing at most
  *     [[ChunkTargetEntries]] entries — an amortized-constant tax that
  *     keeps snapshot loads from reading one chunk per historic commit.
  *
  * Docs and chunk files are gzip-framed: they go through the raw
  * FileSystem under a checksummed one and are always read to EOF, so
  * the gzip CRC32/ISIZE trailer is their integrity check and a flipped
  * or truncated file throws instead of parsing.
  */
object ManifestIO {

  /** Max entries a planned chunk may hold (≈ Iceberg's manifest target
    * size). Measured on the medallion silver table (11 columns, stats on
    * each): an entry is ~1.8 KB of pretty-printed JSON, ~1.0 KB compact,
    * ~49 B compact and gzip-compressed — a 200-entry chunk is 364 KB
    * pretty, 9.7 KB as written, so a full chunk is ~25 KB on disk. */
  val ChunkTargetEntries: Int = 512

  /** Size-class fanout for the small-chunk fold: when a class
    * [F^k, F^(k+1)) holds ≥ F chunks, the F smallest fold into one. */
  val MergeFanout: Int = 8

  /** Most tombstones a snapshot doc carries: a commit that would exceed
    * it rewrites every tombstoned chunk instead. The inline-chunk bound,
    * so the doc's per-file lists stay the same small size class. */
  def MaxTombstones: Int = LakeTable.INLINE_CHUNK_MAX_ENTRIES

  /** The skeleton `base` with the loaded chunk entries minus
    * `base.tombstones` as its live entries; chunk order defines
    * live-file order. */
  def materialize(base: Snapshot, all: Seq[ManifestEntry]): Snapshot = {
    val dead = base.tombstones.toSet
    base.copy(entries = Snapshot.index(
      if (dead.isEmpty) all else all.filterNot(e => dead(e.path))))
  }

  /** Chunk-level commit plan: `reused` parent chunks carried by name,
    * `toWrite` entry groups needing fresh chunk files, and the
    * `tombstones` masking the reused chunks' dead entries. */
  final case class Plan(reused: Seq[String], toWrite: Seq[Seq[ManifestEntry]],
      tombstones: Seq[String] = Nil)

  /** Append-shaped plan: the parent's chunks carry over by name (no
    * entry can have changed when nothing was removed or overridden),
    * its tombstones carry forward unchanged, and only the `added`
    * entries are grouped into fresh chunks — O(delta) planning, no
    * per-entry equality scan. `load` resolves sizes and entries for the
    * fold only (cache-backed; at larger scale the entry counts could
    * ride in the snapshot list JSON instead). */
  def planAppend(parentManifests: Seq[String], parentTombstones: Seq[String],
      added: Seq[ManifestEntry], load: String => Seq[ManifestEntry]): Plan =
    fold(Plan(parentManifests,
        added.grouped(ChunkTargetEntries).toVector, parentTombstones),
      parentManifests.map(n => n -> load(n)).toMap)

  /** Plan the chunk set for `snap` given the reusable `candidates`
    * (parent's chunks, plus e.g. a rollback target's): a candidate is
    * reused by name iff every entry it holds is either exactly live in
    * `snap` or dead (its path not live, masked by a tombstone), no path
    * it holds is already covered, and less than half of it is dead.
    * A chunk whose entry for a live path CHANGED is never reused — only
    * then is masking by path sound. If the reused chunks would need
    * more than [[MaxTombstones]] tombstones, every tombstoned one is
    * demoted too. Survivors of rewritten chunks and brand-new entries
    * are regrouped into fresh chunks; then the size-class fold keeps
    * the chunk count from growing one-per-commit. */
  def plan(snap: Snapshot,
      candidates: Seq[(String, Seq[ManifestEntry])]): Plan = {
    val target = snap.entries
    val covered = scala.collection.mutable.Set.empty[String]
    val reused = Vector.newBuilder[(String, Seq[ManifestEntry])]
    val carryOver = Vector.newBuilder[ManifestEntry]
    candidates.foreach { case (name, entries) =>
      val valid = entries.filter(e =>
        !covered(e.path) && target.get(e.path).contains(e))
      val dead = entries.count(e =>
        !covered(e.path) && !target.contains(e.path))
      if (entries.nonEmpty && valid.size + dead == entries.size &&
          dead * 2 < entries.size) {
        reused += (name -> entries)
        covered ++= entries.iterator.map(_.path)
      } else {
        // chunk lost too much or changed entries: keep its survivors
        carryOver ++= valid
        covered ++= valid.iterator.map(_.path)
      }
    }
    def deadPaths(entries: Seq[ManifestEntry]): Seq[String] =
      entries.collect { case e if !target.contains(e.path) => e.path }
    val (kept, tombstones) = {
      val all = reused.result()
      val tombs = all.flatMap { case (_, es) => deadPaths(es) }
      if (tombs.sizeIs <= MaxTombstones) (all, tombs)
      else {
        val (clean, dirty) = all.partition { case (_, es) =>
          deadPaths(es).isEmpty }
        carryOver ++= dirty.flatMap(_._2).filter(e => target.contains(e.path))
        (clean, Nil)
      }
    }
    val fresh = target.valuesIterator.filterNot(e => covered(e.path))
    val toWrite = (carryOver.result() ++ fresh)
      .grouped(ChunkTargetEntries).toVector
    fold(Plan(kept.map(_._1), toWrite, tombstones), kept.toMap)
  }

  /** LSM-style small-chunk fold: repeatedly, if a size class
    * [F^k, F^(k+1)) holds ≥ F chunks and the F smallest fit in one
    * target-size chunk, fold them (a reused chunk entering a fold is
    * demoted to a rewrite of its live entries, and its tombstones go).
    * Each fold writes ≤ [[ChunkTargetEntries]] entries, so per-commit
    * metadata stays bounded by delta + a constant; amortized over N
    * commits the fold tax is O(log N). */
  private def fold(p: Plan,
      reusedEntries: Map[String, Seq[ManifestEntry]]): Plan = {
    // work list: Left(name) = reused on disk, Right(entries) = to write
    var work: Vector[Either[String, Seq[ManifestEntry]]] =
      p.reused.map(Left(_)).toVector ++ p.toWrite.map(Right(_))
    lazy val dead = p.tombstones.toSet
    val demoted = Vector.newBuilder[String]
    def sizeOf(c: Either[String, Seq[ManifestEntry]]): Int = c match {
      case Left(n) => reusedEntries(n).size
      case Right(es) => es.size
    }
    def entriesOfChunk(c: Either[String, Seq[ManifestEntry]]) = c match {
      case Left(n) =>
        demoted += n
        reusedEntries(n).filterNot(e => dead(e.path))
      case Right(es) => es
    }
    def sizeClass(n: Int): Int = {
      var k = 0; var bound = MergeFanout.toLong
      while (n >= bound) { k += 1; bound *= MergeFanout }
      k
    }
    var changed = true
    while (changed) {
      changed = false
      val byClass = work.zipWithIndex
        .filter { case (c, _) => sizeOf(c) < ChunkTargetEntries }
        .groupBy { case (c, _) => sizeClass(sizeOf(c)) }
      byClass.toSeq.sortBy(_._1).foreach { case (_, members) =>
        if (!changed && members.size >= MergeFanout) {
          val smallest = members.sortBy { case (c, _) => sizeOf(c) }
            .take(MergeFanout)
          if (smallest.map { case (c, _) => sizeOf(c) }.sum
              <= ChunkTargetEntries) {
            val idxs = smallest.map(_._2).toSet
            val merged = smallest.flatMap { case (c, _) => entriesOfChunk(c) }
            work = work.zipWithIndex
              .filterNot { case (_, i) => idxs(i) }.map(_._1) :+
              Right(merged.map(identity))
            changed = true
          }
        }
      }
    }
    val gone = demoted.result().iterator
      .flatMap(n => reusedEntries(n).iterator.map(_.path)).toSet
    Plan(work.collect { case Left(n) => n },
      work.collect { case Right(es) => es },
      if (gone.isEmpty) p.tombstones else p.tombstones.filterNot(gone))
  }

  /** Chunk-level stat summary: the union of the chunk's entry bounds,
    * per column — the manifest-list-level index a pruned scan consults
    * BEFORE loading any chunk. A column appears only when EVERY entry
    * records bounds for it (a chunk hiding an unknown-bounds file must
    * stay conservatively loadable); `__nulls__` pseudo-stats sum
    * (IS NULL can skip a chunk only when its total null count is 0);
    * bloom and partition-dir pseudo-columns are omitted (chunk-level
    * union would be meaningless or unsound). */
  def summarize(entries: Seq[ManifestEntry],
      schema: org.apache.spark.sql.types.StructType)
      : Map[String, ColStat] = {
    if (entries.isEmpty || entries.exists(_.stats.isEmpty)) return Map.empty
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val common = entries.map(_.stats.keySet).reduce(_ intersect _)
    common.iterator.flatMap { k =>
      if (FileStats.isNullsKey(k)) {
        val base = k.substring(FileStats.NullsPrefix.length)
        val counts = entries.map(e =>
          scala.util.Try(e.stats(k).min.toLong).toOption)
        if (!types.contains(base) || counts.exists(_.isEmpty)) None
        else {
          val s = counts.flatten.sum
          Some(k -> ColStat(s.toString, s.toString))
        }
      } else types.get(k) match {
        case Some(dt) if FileStats.supportsLiteralPruning(dt) =>
          try {
            val mn = entries.map(_.stats(k).min)
              .reduce((a, b) => if (FileStats.cmp(dt, a, b) <= 0) a else b)
            val mx = entries.map(_.stats(k).max)
              .reduce((a, b) => if (FileStats.cmp(dt, a, b) >= 0) a else b)
            Some(k -> ColStat(mn, mx))
          } catch { case _: Exception => None }
        case _ => None
      }
    }.toMap
  }

  // ------------------------------------------------------------------ codec

  /** A file-backed chunk is `m-<uuid>.json.gz`: compact JSON, gzip-
    * compressed (Iceberg's manifests default to gzip-compressed Avro).
    * Spark's JSON reader decompresses by the same extension, so the
    * distributed `.files` scan reads these files as they are. */
  def isChunkFile(name: String): Boolean =
    name.startsWith("m-") && name.endsWith(".json.gz")

  /** Write `entries` as a chunk file in `dir` (exclusive create) and
    * return its name: a fresh `m-<uuid>.json.gz`, or `name` when expiry
    * promotes an inline chunk to a file of its own name. */
  def writeChunk(fs: FileSystem, dir: Path, entries: Seq[ManifestEntry],
      name: String = s"m-${UUID.randomUUID()}.json.gz"): String = {
    LakeTable.writeBytesExclusive(rawFs(fs), new Path(dir, name),
      gzip(chunkToJson(entries)))
    name
  }

  /** Read one chunk file (any [[writeChunk]] file). */
  def readChunk(fs: FileSystem, p: Path): Seq[ManifestEntry] =
    chunkFromNode(Snapshot.mapper.readTree(gunzip(readBytes(fs, p))),
      p.getName)

  // ------------------------------------------------------- snapshot docs

  /** File name of version `id`'s snapshot doc. */
  def docName(id: Long): String = s"v$id.json.gz"

  private val DocName = "^v(\\d+)\\.json\\.gz$".r

  /** Version of a snapshot doc file name; None for any other file. */
  def docId(name: String): Option[Long] = name match {
    case DocName(id) => Some(id.toLong)
    case _ => None
  }

  /** Exclusively create version `s.snapshotId`'s doc in `dir` (see
    * [[listToJson]]) and return the bytes written — what the commit's
    * post-swap ownership read-back compares against [[readDocBytes]]. */
  def writeDoc(fs: FileSystem, dir: Path, s: Snapshot,
      inline: Map[String, Seq[ManifestEntry]] = Map.empty): Array[Byte] = {
    val bytes = gzip(listToJson(s, inline))
    LakeTable.writeBytesExclusive(rawFs(fs),
      new Path(dir, docName(s.snapshotId)), bytes)
    bytes
  }

  /** Version `id`'s doc as written (gzip bytes, unchecked). */
  def readDocBytes(fs: FileSystem, dir: Path, id: Long): Array[Byte] =
    readBytes(fs, new Path(dir, docName(id)))

  /** Version `id`'s doc JSON, its gzip trailer verified. */
  def readDoc(fs: FileSystem, dir: Path, id: Long): String =
    gunzip(readDocBytes(fs, dir, id))

  /** The raw FileSystem under a checksummed one: gzip-framed metadata
    * carries its own CRC32/ISIZE trailer, so a `.crc` sibling would
    * cost one more create per file and guard nothing. */
  private[lake] def rawFs(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  private def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = rawFs(fs).open(p)
    try in.readAllBytes() finally in.close()
  }

  private def gzip(json: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new GZIPOutputStream(bos)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    bos.toByteArray
  }

  /** Decompress to EOF: only reading past the last deflate block makes
    * `GZIPInputStream` check the trailer (a JSON parser on the stream
    * would stop at the closing brace), so corruption throws here. */
  private def gunzip(bytes: Array[Byte]): String = {
    val in = new GZIPInputStream(new ByteArrayInputStream(bytes))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Chunk JSON: `{"entries": [{path, seq, stats, renames, bytes,
    * rows}, …]}`, compact. Immutable once written. */
  def chunkToJson(entries: Seq[ManifestEntry]): String =
    Snapshot.mapper.writeValueAsString(chunkNode(entries))

  private[lake] def chunkNode(entries: Seq[ManifestEntry]): ObjectNode = {
    val n = Snapshot.mapper.createObjectNode()
    val arr = n.putArray("entries")
    entries.foreach { e =>
      val o = arr.addObject()
      o.put("path", e.path)
      if (e.seq != 0L) o.put("seq", e.seq)
      if (e.stats.nonEmpty) {
        val so = o.putObject("stats")
        e.stats.toSeq.sortBy(_._1).foreach { case (c, cs) =>
          val co = so.putObject(c)
          co.put("min", cs.min); co.put("max", cs.max)
        }
      }
      if (e.renames.nonEmpty) {
        val ro = o.putObject("renames")
        e.renames.toSeq.sortBy(_._1).foreach { case (c, p) => ro.put(c, p) }
      }
      o.put("bytes", e.info.bytes); o.put("rows", e.info.rows)
      e.info.firstRowId.foreach(o.put("first_row_id", _))
      if (e.specId != 0L) o.put("spec", e.specId)
    }
    n
  }

  /** Decode the entries of chunk `name` (the name only labels the
    * error): an entry without its size or row count is refused. */
  private[lake] def chunkFromNode(n: JsonNode,
      name: String): Seq[ManifestEntry] =
    n.path("entries").elements().asScala.map { o =>
      if (!o.has("bytes") || !o.has("rows"))
        throw new IllegalStateException(
          s"manifest chunk $name: entry ${o.path("path").asText()} " +
            "lacks its size or row count")
      ManifestEntry(
        path = o.path("path").asText(),
        seq = if (o.has("seq")) o.path("seq").asLong() else 0L,
        stats =
          if (!o.has("stats")) Map.empty
          else o.path("stats").properties().asScala.map { ce =>
            ce.getKey -> ColStat(ce.getValue.path("min").asText(),
              ce.getValue.path("max").asText())
          }.toMap,
        renames =
          if (!o.has("renames")) Map.empty
          else o.path("renames").properties().asScala
            .map(ce => ce.getKey -> ce.getValue.asText()).toMap,
        info = FileInfo(o.path("bytes").asLong(), o.path("rows").asLong(),
          if (o.hasNonNull("first_row_id"))
            Some(o.path("first_row_id").asLong()) else None),
        specId = if (o.has("spec")) o.path("spec").asLong() else 0L)
    }.toSeq

  /** Manifest-list snapshot JSON (the body of a `v<id>.json.gz` doc):
    * scalars, the commit's file delta, chunk names, the tombstones
    * masking those chunks' dead entries, and the delete-file lists —
    * O(delta) bytes, never O(table).
    *
    * `inline` carries this commit's NEW delta chunks embedded in the
    * snapshot doc itself (named `iv<id>-<k>.json.gz`) — one exclusive
    * create per commit instead of two, and the chunk rides the commit
    * point atomically (a lost race strands NOTHING on disk). An inline
    * chunk referenced past its host's expiry is promoted to a real
    * chunk file of the same name by [[LakeTable.expireWhere]]. */
  def listToJson(s: Snapshot,
      inline: Map[String, Seq[ManifestEntry]] = Map.empty): String = {
    val m = Snapshot.mapper
    val n: ObjectNode = m.createObjectNode()
    if (inline.nonEmpty) {
      val io = n.putObject("inline_chunks")
      inline.toSeq.sortBy(_._1).foreach { case (name, entries) =>
        io.set[ObjectNode](name, chunkNode(entries))
      }
    }
    n.put("snapshot_id", s.snapshotId)
    s.parentId.foreach(p => n.put("parent_id", p))
    n.put("timestamp_ms", s.timestampMs)
    n.put("operation", s.operation)
    def arr(name: String, xs: Seq[String]): Unit = {
      val a = n.putArray(name); xs.foreach(a.add)
    }
    arr("added_files", s.addedFiles)
    arr("removed_files", s.removedFiles)
    arr("manifests", s.manifests)
    if (s.tombstones.nonEmpty) arr("tombstones", s.tombstones)
    n.put("schema", s.schemaJson)
    arr("partition_columns", s.partitionColumns)
    if (s.partitionSpecs.nonEmpty) {
      val so = n.putObject("partition_specs")
      s.partitionSpecs.toSeq.sortBy(_._1).foreach { case (id, cols) =>
        val a = so.putArray(id.toString); cols.foreach(a.add)
      }
    }
    if (s.currentSpecId != 0L) n.put("current_spec_id", s.currentSpecId)
    val p = n.putObject("properties")
    s.properties.foreach { case (k, v) => p.put(k, v) }
    if (s.deleteFiles.nonEmpty) {
      val da = n.putArray("delete_files")
      s.deleteFiles.foreach { d =>
        val o = da.addObject()
        o.put("path", d.path); o.put("seq", d.seq)
        val ka = o.putArray("keys"); d.keys.foreach(ka.add)
        val pa = o.putArray("physical_keys"); d.physicalKeys.foreach(pa.add)
      }
    }
    if (s.posDeleteFiles.nonEmpty) {
      val pa = n.putArray("pos_delete_files")
      s.posDeleteFiles.foreach { d =>
        val o = pa.addObject()
        o.put("path", d.path); o.put("seq", d.seq)
      }
    }
    if (s.dvFiles.nonEmpty) {
      val va = n.putArray("dv_files")
      s.dvFiles.foreach { d =>
        val o = va.addObject()
        o.put("path", d.path); o.put("seq", d.seq)
        o.put("bytes", d.bytes)
      }
    }
    if (s.manifestSummaries.nonEmpty) {
      val ms = n.putObject("manifest_summaries")
      s.manifestSummaries.toSeq.sortBy(_._1).foreach { case (name, cols) =>
        val co = ms.putObject(name)
        cols.toSeq.sortBy(_._1).foreach { case (c, cs) =>
          val o = co.putObject(c)
          o.put("min", cs.min); o.put("max", cs.max)
        }
      }
    }
    m.writeValueAsString(n)
  }

  /** One embedded delta chunk of a snapshot doc (written by
    * [[listToJson]]'s `inline` map), or None if the doc doesn't carry
    * that name. */
  def inlineChunk(listJson: String, name: String)
      : Option[Seq[ManifestEntry]] = {
    val n = Snapshot.mapper.readTree(listJson).path("inline_chunks")
    if (!n.has(name)) None
    else Some(chunkFromNode(n.get(name), name))
  }

  /** Every embedded delta chunk of a snapshot doc — loading a doc
    * pre-seeds the chunk cache with these so materializing it never
    * re-reads its own file. */
  def inlineChunksOf(listJson: String): Map[String, Seq[ManifestEntry]] = {
    val n = Snapshot.mapper.readTree(listJson).path("inline_chunks")
    n.properties().asScala.map(e =>
      e.getKey -> chunkFromNode(e.getValue, e.getKey)).toMap
  }

  /** Parse a snapshot JSON and materialize its entries:
    * `loadChunk` resolves chunk name → entries (callers route through an
    * immutable-chunk cache, which `cached` answers for). */
  def snapshotFromJson(json: String,
      loadChunk: String => Seq[ManifestEntry],
      cached: String => Boolean): Snapshot = {
    val skel = listSkeleton(json)
    materialize(skel, loadChunks(skel.manifests, loadChunk, cached))
  }

  /** Materialize only the named chunks of a skeleton — the pruned-scan
    * path: callers pass the chunk subset whose [[Snapshot
    * .manifestSummaries]] survive a predicate, and the partial snapshot
    * covers exactly the live files those chunks hold (every tombstone
    * still applies: a summary counts dead entries too, so it is only
    * ever wider than the live files). Correct ONLY for reads
    * whose predicate implied the skipped chunks are irrelevant; never
    * cached as the full snapshot. */
  def materializePartial(skel: Snapshot, names: Seq[String],
      loadChunk: String => Seq[ManifestEntry],
      cached: String => Boolean): Snapshot =
    materialize(skel, loadChunks(names, loadChunk, cached))

  /** Parse a manifest-list snapshot JSON WITHOUT loading any chunk:
    * every scalar field plus chunk names and summaries, with no
    * entries. */
  def listSkeleton(json: String): Snapshot = {
    val n = Snapshot.mapper.readTree(json)
    require(n.has("manifests"),
      "snapshot doc carries no manifest list (not a graft-lake snapshot)")
    def arr(name: String): Seq[String] =
      n.path(name).elements().asScala.map(_.asText()).toSeq
    Snapshot(
      snapshotId = n.path("snapshot_id").asLong(),
      parentId =
        if (n.has("parent_id")) Some(n.path("parent_id").asLong()) else None,
      timestampMs = n.path("timestamp_ms").asLong(),
      operation = n.path("operation").asText(),
      addedFiles = arr("added_files"),
      removedFiles = arr("removed_files"),
      entries = VectorMap.empty,
      schemaJson = n.path("schema").asText(),
      partitionColumns = arr("partition_columns"),
      properties = n.path("properties").properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap,
      // canonical order (see Snapshot.deletes): kind by kind
      deletes =
        n.path("delete_files").elements().asScala.map { o =>
          DeleteFile(
            o.path("path").asText(),
            o.path("seq").asLong(),
            o.path("keys").elements().asScala.map(_.asText()).toSeq,
            o.path("physical_keys").elements().asScala.map(_.asText()).toSeq)
        }.toSeq ++
        n.path("pos_delete_files").elements().asScala.map { o =>
          PosDeleteFile(o.path("path").asText(), o.path("seq").asLong())
        } ++
        n.path("dv_files").elements().asScala.map { o =>
          DvFile(o.path("path").asText(), o.path("seq").asLong(),
            o.path("bytes").asLong())
        },
      manifests = arr("manifests"),
      tombstones = arr("tombstones"),
      partitionSpecs =
        if (!n.has("partition_specs")) Map.empty
        else n.path("partition_specs").properties().asScala.map { e =>
          e.getKey.toLong ->
            e.getValue.elements().asScala.map(_.asText()).toSeq
        }.toMap,
      currentSpecId =
        if (n.has("current_spec_id")) n.path("current_spec_id").asLong()
        else 0L,
      manifestSummaries =
        if (!n.has("manifest_summaries")) Map.empty
        else n.path("manifest_summaries").properties().asScala.map { e =>
          e.getKey -> e.getValue.properties().asScala.map { ce =>
            ce.getKey -> ColStat(ce.getValue.path("min").asText(),
              ce.getValue.path("max").asText())
          }.toMap
        }.toMap)
  }

  /** Fetch chunks with bounded parallelism, preserving order. Object
    * stores are latency-bound per GET: a 10⁶-file table is ~2k chunks,
    * which serial loading turns into minutes of driver wait; 16
    * concurrent fetches make it seconds. Single-chunk and cache-warm
    * loads (every named chunk `cached`) skip the pool. */
  private def loadChunks(names: Seq[String],
      loadChunk: String => Seq[ManifestEntry],
      cached: String => Boolean): Seq[ManifestEntry] = {
    if (names.sizeIs <= 1 || names.forall(cached))
      return names.flatMap(loadChunk)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, names.size))
    try {
      names.map(n => pool.submit(
          new java.util.concurrent.Callable[Seq[ManifestEntry]] {
            def call(): Seq[ManifestEntry] = loadChunk(n)
          }))
        .flatMap(_.get())
    } finally pool.shutdown()
  }
}
