package graft.lake

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.graftlake.EntryFileIndex
import org.apache.spark.sql.types._

/** One-way EXPORT of a graft table as a Delta Lake table
  * (https://github.com/delta-io/delta/blob/master/PROTOCOL.md): a
  * `_delta_log/` of versioned JSON commits any Delta-reading engine
  * (Spark+delta-spark, Trino, DuckDB's delta extension, delta-rs /
  * polars) can scan — the second half of the lakehouse-interop story
  * next to [[IcebergExport]]. Data files are referenced by ABSOLUTE
  * URI into the graft table's `data/` dir (the same zero-copy handoff
  * Delta itself uses for SHALLOW CLONE); the export directory holds
  * only the log.
  *
  * What each `add` action carries beyond the path: `partitionValues`
  * for identity-partitioned columns (graft's hive layout does not
  * store them in the data files — exactly Delta's own convention),
  * and a `stats` JSON of `numRecords` / `minValues` / `maxValues` /
  * `nullCount` re-encoded from the graft manifest's per-file bounds
  * and null counts, so a Delta reader data-skips as well as graft
  * does. String bounds are exact by construction (graft drops, never
  * truncates, over-long string stats), so no truncation-tie-breaker
  * handling is needed.
  *
  * Partition mapping: IDENTITY fields export as Delta partition
  * columns value-for-value. Non-identity transforms (bucket / day /
  * month / year / truncate) have no Delta-declarable equivalent —
  * those fields are simply NOT declared (their SOURCE columns live in
  * the data files, so every row reads back correctly; only
  * partition-level skipping degrades to the stats-based kind). This
  * is a documented downgrade, not a correctness risk — unlike
  * Iceberg's bucket case, where declaring the transform with the
  * wrong hash would mis-prune, an undeclared transform cannot.
  *
  * MOR handoff: CONSOLIDATED graft deletion vectors (L44 artifacts)
  * re-encode as real Delta deletion vectors — [[DeltaDv]] writes the
  * spec RoaringBitmapArray `.bin` files into the export dir and each
  * affected `add` carries the descriptor (storageType `u`,
  * `tightBounds: false` stats); the protocol upgrades to the
  * table-features form (3, 7) + `deletionVectors` the first time one
  * is live, and a DV that grew re-publishes its file as the spec's
  * remove + re-add pair.
  *
  * Scope (refused loudly otherwise):
  *   - LOOSE merge-on-read artifacts: position deletes fold into
  *     exportable DVs via `consolidateDeleteVectors()`; equality
  *     deletes have no Delta expression — `compact()` first;
  *   - live files that predate a schema evolution (graft's name
  *     mapping ≙ Delta column mapping, which this export does not
  *     declare) — `compact()` rewrites them under the current schema.
  *
  * [[publish]] appends the current snapshot as version N+1 — adds for
  * new files, removes for dropped ones, O(delta) JSON — the
  * per-commit mirror cadence. Schema or partition drift is refused
  * (same policy as [[IcebergExport.publish]]): the exported history's
  * schema is frozen at first export; re-binding old versions would
  * change what time-travel reads return. [[checkpoint]] folds the log
  * into a spec-shaped parquet checkpoint + `_last_checkpoint`, so a
  * long-published mirror's readers replay O(1) files instead of
  * O(versions), and aged JSON commits become deletable.
  */
object DeltaExport {

  /** `txn.appId` under which each export/publish commit records the
    * source graft snapshot id. The spec requires checkpoints to carry
    * the latest `txn` per appId, so publish idempotence SURVIVES
    * checkpoint + aged-JSON cleanup — commitInfo (also written, for
    * human readers) does not. */
  private[lake] val PublishAppId = "graft-publish"

  private def pad(v: Long): String = f"$v%020d"

  /** An existing-log probe that SURVIVES log cleanup: after
    * [[checkpoint]] the aged JSON commits (version 0 included) are
    * deletable, so "is version-0 JSON present" would misclassify a
    * long-published mirror as a fresh directory and let [[export]]
    * rewrite version 0 as a new full snapshot — silently resetting
    * time travel and skipping every drift gate. ANY commit JSON or a
    * `_last_checkpoint` marks the directory as owned by a log. */
  private def hasLog(fs: org.apache.hadoop.fs.FileSystem,
      destDir: String): Boolean = {
    val logDir = new Path(destDir, "_delta_log")
    if (!fs.exists(logDir)) return false
    val commitRe = """\d{20}\.json""".r
    fs.listStatus(logDir).exists { s =>
      val n = s.getPath.getName
      n == "_last_checkpoint" || commitRe.matches(n)
    }
  }

  /** Export `table`'s current snapshot under `destDir` as Delta
    * version 0; returns the absolute path of the written commit JSON.
    * `atSnapshot` pins a RETAINED historical snapshot (time-travel
    * handoff). */
  def export(table: LakeTable, destDir: String,
      atSnapshot: Option[Long] = None): String = {
    val conf = table.spark.sessionState.newHadoopConf()
    val fs = new Path(destDir).getFileSystem(conf)
    require(!hasLog(fs, destDir),
      s"$destDir already holds a Delta log — publish() appends to it")
    writeVersion(table, destDir, atSnapshot, version = 0L,
      prev = None, withMeta = true)
  }

  /** CONTINUOUS publish: append the table's current snapshot to an
    * already-exported Delta table as version N+1 (adds for new files,
    * removes for dropped ones — O(delta) metadata). A fresh directory
    * degenerates to [[export]]; re-publishing the already-published
    * graft snapshot is an idempotent no-op. */
  def publish(table: LakeTable, destDir: String,
      atSnapshot: Option[Long] = None): String = {
    val conf = table.spark.sessionState.newHadoopConf()
    val fs = new Path(destDir).getFileSystem(conf)
    if (!hasLog(fs, destDir))
      return export(table, destDir, atSnapshot)
    val st = DeltaImport.state(table.spark, destDir, versionAsOf = None)
    val snap = snapOf(table, atSnapshot)
    if (st.graftSnapshotId.contains(snap.snapshotId))
      return new Path(destDir,
        s"_delta_log/${pad(st.version)}.json").toString
    // frozen-shape gates: same policy as the Iceberg publisher
    val sch = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    require(st.schema.json == sch.json,
      "schema drift since the last publish — the exported history's " +
        "schema is frozen at first export; export to a fresh directory")
    val identNow = PartitionSpec.parseAll(snap.partitionColumns)
      .filter(_.isIdentity).map(_.source)
    require(st.partitionColumns == identNow,
      "partition drift since the last publish — export to a fresh " +
        "directory")
    require(snap.properties.get(LakeTable.PROP_ROW_LINEAGE)
        .contains("true") ==
        st.configuration.get("delta.rowTracking.enabled")
          .contains("true"),
      "row-lineage state drift since the last publish (rowTracking " +
        "enablement is frozen in the exported metaData, like the " +
        "schema) — export to a fresh directory")
    require(snap.properties.get(LakeTable.PROP_PUBLISH_CDF)
        .contains("true") ==
        st.configuration.get("delta.enableChangeDataFeed")
          .contains("true"),
      "change-data-feed state drift since the last publish (CDF " +
        "enablement is frozen in the exported metaData, like the " +
        "schema) — export to a fresh directory")
    writeVersion(table, destDir, atSnapshot, version = st.version + 1,
      prev = Some(st), withMeta = false)
  }

  private def snapOf(table: LakeTable, atSnapshot: Option[Long]) =
    atSnapshot.map(table.snapshot).getOrElse(
      table.currentSnapshot.getOrElse(throw new IllegalStateException(
        "no committed snapshot to export")))

  private def writeVersion(table: LakeTable, destDir: String,
      atSnapshot: Option[Long], version: Long,
      prev: Option[DeltaImport.TableState], withMeta: Boolean): String = {
    val snap = snapOf(table, atSnapshot)
    // CONSOLIDATED deletion vectors re-encode as Delta DVs below;
    // loose position/equality deletes have no Delta expression
    require(snap.deleteFiles.isEmpty && snap.posDeleteFiles.isEmpty,
      s"snapshot ${snap.snapshotId} carries loose merge-on-read " +
        "delete artifacts — consolidateDeleteVectors() folds position " +
        "deletes into exportable deletion vectors; equality deletes " +
        "need compact()")
    locally {
      val evolved = snap.liveFiles.filter(snap.entries(_).renames.nonEmpty)
      require(evolved.isEmpty,
        s"${evolved.size} live files predate a schema evolution and " +
          "read through graft's name mapping (≙ Delta column mapping, " +
          "not declared by this export) — compact() before export. " +
          s"First: ${evolved.take(3).mkString(", ")}")
    }
    val spark = table.spark
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(destDir).getFileSystem(conf)
    val tableFs = new Path(table.root).getFileSystem(conf)
    // the Delta PROTOCOL requires URL-encoded paths; Path.toUri is the
    // same encoder Spark's _metadata.file_path uses (space → %20,
    // hive-escaped '%' → %25, '+' literal), so hive-special partition
    // values round-trip exactly through the import's URI decoding
    def absUri(rel: String): String =
      tableFs.makeQualified(new Path(table.root, rel)).toUri.toString

    val sch = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val fields = PartitionSpec.parseAll(snap.partitionColumns)
    val identFields = fields.filter(_.isIdentity)
    val m = Snapshot.mapper

    val dvByRel: Map[String, Array[Long]] =
      DeleteArtifacts.dvPositionsByRel(spark, table.root, snap.dvFiles)
    def curCard(rel: String): Long =
      dvByRel.get(rel).map(_.length.toLong).getOrElse(0L)

    val lines = Seq.newBuilder[String]
    locally { // commitInfo first (spec convention; readers ignore it)
      val ci = m.createObjectNode()
      val o = ci.putObject("commitInfo")
      o.put("timestamp", snap.timestampMs)
      o.put("operation", if (withMeta) "WRITE" else "REPLACE TABLE")
      o.putObject("operationParameters")
      o.put("graftSnapshotId", snap.snapshotId)
      lines += m.writeValueAsString(ci)
    }
    locally { // durable idempotence marker (survives log cleanup)
      val tx = m.createObjectNode()
      val o = tx.putObject("txn")
      o.put("appId", PublishAppId)
      o.put("version", snap.snapshotId)
      o.put("lastUpdated", snap.timestampMs)
      lines += m.writeValueAsString(tx)
    }
    // protocol: plain (1, 2) tables stay maximally readable; features
    // escalate to the table-features protocol exactly when the
    // snapshot NEEDS them — live deletion vectors and VARIANT columns
    // are reader+writer features (they change what the bytes mean),
    // row lineage exports as the rowTracking WRITER feature (readers
    // that ignore it still read correct rows; `domainMetadata` rides
    // along because the spec stores the id high-water mark there). A
    // publish that INTRODUCES a feature over a weaker log upgrades
    // the protocol in the same commit (legal per spec).
    val dvLive = snap.liveFiles.exists(r => curCard(r) > 0)
    def hasVariant(dt: DataType): Boolean = dt match {
      case VariantType => true
      case s: StructType => s.fields.exists(f => hasVariant(f.dataType))
      case ArrayType(e, _) => hasVariant(e)
      case MapType(k, v, _) => hasVariant(k) || hasVariant(v)
      case _ => false
    }
    val variantLive = hasVariant(sch)
    val lineage =
      snap.properties.get(LakeTable.PROP_ROW_LINEAGE).contains("true")
    val cdfEnabled =
      snap.properties.get(LakeTable.PROP_PUBLISH_CDF).contains("true")
    val readerNeeded: Set[String] =
      (if (dvLive) Set("deletionVectors") else Set.empty[String]) ++
        (if (variantLive) Set("variantType") else Set.empty[String])
    val writerNeeded: Set[String] = readerNeeded ++
      (if (lineage) Set("rowTracking", "domainMetadata")
      else Set.empty[String]) ++
      (if (cdfEnabled) Set("changeDataFeed") else Set.empty[String])
    def protoLine(): String = {
      val pr = m.createObjectNode()
      val p = pr.putObject("protocol")
      if (writerNeeded.nonEmpty) {
        // readerFeatures exists only at minReaderVersion 3 (spec); a
        // writer-features-only table stays reader-v1 — maximally
        // readable — with minWriterVersion 7
        p.put("minReaderVersion", if (readerNeeded.nonEmpty) 3 else 1)
        p.put("minWriterVersion", 7)
        if (readerNeeded.nonEmpty) {
          val rf = p.putArray("readerFeatures")
          readerNeeded.toSeq.sorted.foreach(rf.add)
        }
        // table-features protocols must carry the LEGACY writer
        // features the pre-upgrade minWriterVersion=2 implied
        // (appendOnly, invariants) alongside the new ones — listing
        // only the new features would silently drop obligations a
        // conforming writer honors
        val wf = p.putArray("writerFeatures")
        (Set("appendOnly", "invariants") ++ writerNeeded)
          .toSeq.sorted.foreach(wf.add)
      } else {
        p.put("minReaderVersion", 1)
        p.put("minWriterVersion", 2)
      }
      m.writeValueAsString(pr)
    }
    if (!withMeta && prev.exists(p =>
        !(readerNeeded.subsetOf(p.readerFeatures) &&
          writerNeeded.subsetOf(p.writerFeatures))))
      lines += protoLine()
    if (withMeta) {
      lines += protoLine()
      val md = m.createObjectNode()
      val o = md.putObject("metaData")
      o.put("id", java.util.UUID.nameUUIDFromBytes(
        table.root.getBytes(StandardCharsets.UTF_8)).toString)
      val fmt = o.putObject("format")
      fmt.put("provider", "parquet")
      fmt.putObject("options")
      o.put("schemaString", sch.json)
      val pc = o.putArray("partitionColumns")
      identFields.foreach(f => pc.add(f.source))
      val cfg = o.putObject("configuration")
      cfg.put("graft.table-root", table.root)
      if (lineage) {
        // graft L37 ≙ Delta row tracking verbatim: per-file id blocks
        // (firstRowId ↔ baseRowId) + a physically-materialized
        // `_row_id` column in rewritten files, which IS the
        // spec's materialized row-id column — point readers at it
        cfg.put("delta.rowTracking.enabled", "true")
        cfg.put("delta.rowTracking.materializedRowIdColumnName",
          LakeTable.ROW_ID_COL)
      }
      if (cdfEnabled) cfg.put("delta.enableChangeDataFeed", "true")
      o.put("createdTime", snap.timestampMs)
      lines += m.writeValueAsString(md)
    }
    if (lineage) {
      // the row-id high-water mark lives in domain metadata (spec:
      // Row ID high-water mark / delta.rowTracking domain); emitted
      // every version because appends advance it
      val next = snap.properties.get(LakeTable.PROP_NEXT_ROW_ID)
        .map(_.toLong).getOrElse(0L)
      val dm = m.createObjectNode()
      val o = dm.putObject("domainMetadata")
      o.put("domain", "delta.rowTracking")
      o.put("configuration", s"""{"rowIdHighWaterMark":${next - 1L}}""")
      o.put("removed", false)
      lines += m.writeValueAsString(dm)
    }

    // identity partition value from the hive path (the same parse the
    // Iceberg exporter uses — graft never stores identity values in
    // the data file)
    def partValueRaw(f: PartitionSpec.Field, rel: String): Option[String] = {
      val seg = rel.split('/').find(_.startsWith(f.dirName + "="))
        .map(_.substring(f.dirName.length + 1))
        .getOrElse(return None)
      val raw = FileStats.unescapePathSegment(seg)
      if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw)
    }

    // graft stat-domain string → the Delta stats JSON value for the
    // column type. None = no tested encoding → the column is omitted
    // (per-column stats are optional; readers keep the file).
    def statJson(o: ObjectNode, name: String, dt: DataType,
        v: String): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        o.put(name, v.toLong); true
      case BooleanType => o.put(name, v.toLong != 0L); true
      case FloatType | DoubleType =>
        val d = v.toDouble
        // NaN/Inf have no JSON literal — omit, never approximate
        if (java.lang.Double.isFinite(d)) { o.put(name, d); true }
        else false
      case StringType => o.put(name, v); true
      case DateType => // stat domain = epoch days
        o.put(name, java.time.LocalDate.ofEpochDay(v.toLong).toString)
        true
      case TimestampType => // stat domain = epoch micros, exact ISO-8601
        val micros = v.toLong
        val inst = java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          Math.floorMod(micros, 1000000L) * 1000L)
        o.put(name, inst.toString); true
      case _ => false
    }

    val identSet = identFields.map(_.source).toSet
    val dataCols = sch.fields.filterNot(f => identSet(f.name))
    // absUri is ALREADY the canonical encoded form — canonUri takes
    // decoded/literal input only (Path keeps literals, so re-encoding
    // an encoded string would double-escape '%')
    val liveNow = snap.liveFiles.map(rel =>
      EntryFileIndex.normUri(absUri(rel)) -> rel).toMap
    // previous live adds keyed by canonical path: the verbatim path
    // string to reference in a remove, plus the add's DV descriptor —
    // foreign replayers reconcile file actions on (path,
    // deletionVector.uniqueId), so a remove must name the replaced
    // add's exact descriptor or the stale add stays live over there
    val prevLive: Map[String, (String, Option[DeltaDv.Descriptor])] =
      prev.map(_.adds.map(a =>
        EntryFileIndex.canonUri(a.uri) ->
          ((if (a.rawPath.nonEmpty) a.rawPath
            else new Path(a.uri).toUri.toString), a.dv)).toMap)
        .getOrElse(Map.empty)
    val prevDvCard: Map[String, Long] = prevLive.flatMap {
      case (k, (_, dv)) => dv.map(d => k -> d.cardinality) }
    // a file re-publishes when it is NEW or its deletion vector GREW
    // (graft DVs only accumulate — a delete never un-deletes — so
    // cardinality equality ⇔ set equality for this log's only writer);
    // Delta's DV-update shape is remove(old add) + add(new descriptor)
    // in one commit
    val newRels = snap.liveFiles.filter { rel =>
      val key = EntryFileIndex.normUri(absUri(rel))
      !prevLive.contains(key) ||
        prevDvCard.getOrElse(key, 0L) != curCard(rel)
    }
    val goneAdds: Iterable[(String, Option[DeltaDv.Descriptor])] =
      prevLive.filterNot { case (norm, _) =>
        liveNow.contains(norm) }.values ++
        newRels.flatMap(rel =>
          prevLive.get(EntryFileIndex.normUri(absUri(rel))))

    // ---- Change Data Feed classification of the published range.
    // The graft snapshots in (prev publish, this publish] decide what
    // this Delta version MEANS row-wise (cdfEnabled defined with the
    // protocol features above):
    //   - noChange: pure physical rewrites (compaction, DV
    //     consolidation, manifest/property maintenance) — file actions
    //     get dataChange=false, so CDF readers (ours and delta-spark)
    //     synthesize NOTHING instead of a spurious delete+insert of
    //     every rewritten row;
    //   - insertOnly: appends — file actions alone are the exact CDF
    //     (readers synthesize inserts), no cdc files needed;
    //   - otherwise a cdc action set derived from the table's own
    //     changelog is REQUIRED when publish.delta.change-data-feed
    //     is on (and must be per-commit — see below).
    // O(delta) driver reads: exactly the range's v-jsons, never the
    // whole retained history (table.snapshots lists + parses every
    // retained snapshot — O(history) per publish at commit depth)
    val rangeSnaps: Option[Seq[Snapshot]] = prev.flatMap { p =>
      p.graftSnapshotId.flatMap { from =>
        scala.util.Try(
          ((from + 1) to snap.snapshotId).map(table.snapshot)
        ).toOption // an expired mid-range snapshot — unknowable
      }
    }
    def noChange(s: Snapshot): Boolean =
      Set("compact", "rewrite-deletes", "rewrite-manifests",
        "set-properties", "unset-properties")(s.operation)
    def insertOnly(s: Snapshot): Boolean =
      s.removedFiles.isEmpty && s.parentId.exists(p =>
        scala.util.Try(table.snapshot(p)).toOption
          .exists(_.deletes == s.deletes))
    val actionDataChange: Boolean =
      rangeSnaps.forall(ss => !ss.forall(noChange))
    val needCdc = cdfEnabled && prev.isDefined &&
      rangeSnaps.forall(ss =>
        !ss.forall(s => noChange(s) || insertOnly(s)))
    if (needCdc) {
      require(rangeSnaps.isDefined,
        s"$destDir: snapshots in the published range were expired — " +
          "the change feed for this publish cannot be derived; " +
          "publish before expiring, or disable " +
          s"${LakeTable.PROP_PUBLISH_CDF}")
      // pure-rewrite commits (consolidation, compaction) contribute
      // no change rows and may share the range; TWO logical-change
      // commits may cancel/reorder (insert then delete of one row)
      // inside this single unordered Delta version — refuse
      val logical = rangeSnaps.get.filterNot(noChange)
      require(logical.size == 1,
        s"$destDir: ${logical.size} row-level table commits since " +
          "the last publish — change data is only well-ordered per " +
          "commit; publish after every commit (continuous mode) or " +
          s"disable ${LakeTable.PROP_PUBLISH_CDF}")
    }

    // one DV file per commit holding every (re)published descriptor
    // (the same packing delta writers use); storageType `u`, no prefix
    val dvRels = newRels.filter(r => curCard(r) > 0)
    val dvDescByRel: Map[String, DeltaDv.Descriptor] =
      if (dvRels.isEmpty) Map.empty
      else {
        val uuid = java.util.UUID.randomUUID()
        val datas = dvRels.map(r => DeltaDv.serialize(dvByRel(r)))
        val offs = DeltaDv.writeFile(fs,
          new Path(destDir, s"deletion_vector_$uuid.bin"), datas)
        dvRels.zip(offs).map { case (rel, (off, size)) =>
          rel -> DeltaDv.Descriptor("u", DeltaDv.encodeUuid(uuid),
            Some(off), size, dvByRel(rel).length.toLong)
        }.toMap
      }

    def putDv(o: ObjectNode, d: DeltaDv.Descriptor): Unit = {
      val dv = o.putObject("deletionVector")
      dv.put("storageType", d.storageType)
      dv.put("pathOrInlineDv", d.pathOrInlineDv)
      d.offset.foreach(off => dv.put("offset", off))
      dv.put("sizeInBytes", d.sizeInBytes)
      dv.put("cardinality", d.cardinality)
    }

    // removes carry the replaced add's DV descriptor: reconciliation
    // keys file actions by (path, deletionVector.uniqueId), so a
    // remove without the descriptor would cancel a DIFFERENT key and
    // leave the DV-bearing add live in conforming foreign replayers
    // (the file scanned twice under two DVs, or a dropped file
    // resurrected). Removes go BEFORE adds so a sequential replayer of
    // a DV update lands on the add.
    goneAdds.foreach { case (uri, dv) =>
      val rm = m.createObjectNode()
      val o = rm.putObject("remove")
      o.put("path", uri)
      o.put("deletionTimestamp", snap.timestampMs)
      o.put("dataChange", actionDataChange)
      dv.foreach(putDv(o, _))
      lines += m.writeValueAsString(rm)
    }
    newRels.foreach { rel =>
      val info = snap.entries(rel).info
      val add = m.createObjectNode()
      val o = add.putObject("add")
      o.put("path", absUri(rel))
      val pv = o.putObject("partitionValues")
      identFields.foreach { f =>
        partValueRaw(f, rel) match {
          case Some(v) => pv.put(f.source, v)
          case None => pv.putNull(f.source)
        }
      }
      o.put("size", info.bytes)
      o.put("modificationTime", snap.timestampMs)
      o.put("dataChange", actionDataChange)
      if (lineage) {
        // an enabled rowTracking protocol REQUIRES baseRowId on every
        // add (fresh ids are undefined without it)
        o.put("baseRowId", info.firstRowId.getOrElse(
          throw new IllegalStateException(
            s"$rel carries no first_row_id on a row-lineage table — " +
              "cannot export a spec-complete rowTracking add")))
        o.put("defaultRowCommitVersion", version)
      }
      dvDescByRel.get(rel).foreach(putDv(o, _))
      val fileStats = snap.entries(rel).stats
      val st = m.createObjectNode()
      // graft stats are PHYSICAL (pre-delete): numRecords counts the
      // file's rows per spec; with a DV the logical bounds may be
      // tighter than the recorded ones, so mark them loose
      if (dvDescByRel.contains(rel)) st.put("tightBounds", false)
      st.put("numRecords", info.rows)
      val mins = st.putObject("minValues")
      val maxs = st.putObject("maxValues")
      val nulls = st.putObject("nullCount")
      dataCols.foreach { f =>
        fileStats.get(f.name).foreach { cs =>
          if (statJson(mins, f.name, f.dataType, cs.min))
            statJson(maxs, f.name, f.dataType, cs.max)
        }
        fileStats.get(FileStats.nullsKey(f.name)).foreach { cs =>
          nulls.put(f.name, cs.min.toLong)
        }
      }
      o.put("stats", m.writeValueAsString(st))
      lines += m.writeValueAsString(add)
    }

    // ---- cdc file production (see the classification above): the
    // commit's change rows come from the table's OWN changelog —
    // update_preimage/update_postimage on lineage tables, the
    // insert/delete vocabulary otherwise — written partitionBy the
    // identity columns so the files hold exactly the spec's shape
    // (partition values in the ACTION, not the file). Readers that
    // see cdc actions must ignore the same version's file actions —
    // precedence our own changeScan implements.
    if (needCdc) {
      val fromSnap = prev.get.graftSnapshotId.get // needCdc ⇒ defined
      val cdfDf0 =
        if (lineage)
          table.changesWithLineage(fromSnap, snap.snapshotId)
            .drop(LakeTable.ROW_ID_COL)
        else table.changes(fromSnap, snap.snapshotId)
      val cdfDf = cdfDf0.drop(LakeTable.CHANGE_SNAP_COL)
      val identCols = identFields.map(_.source)
      val tmpDir = new Path(destDir, s"_change_data/.tmp-$version")
      val w = cdfDf.write.mode("overwrite")
      (if (identCols.nonEmpty) w.partitionBy(identCols: _*) else w)
        .parquet(tmpDir.toString)
      // move each part into _change_data/ flat (delta-style), its
      // partition values parsed from the tmp layout's hive dirs
      val files = {
        val it = fs.listFiles(tmpDir, true)
        val b = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile && f.getPath.getName.endsWith(".parquet")) b += f
        }
        b.result()
      }
      files.zipWithIndex.foreach { case (f, i) =>
        val rel = f.getPath.toString
          .stripPrefix(fs.makeQualified(tmpDir).toString)
          .stripPrefix("/")
        val segs = rel.split('/').dropRight(1)
        val pv: Seq[(String, Option[String])] = identCols.map { c =>
          val seg = segs.find(_.startsWith(c + "="))
            .getOrElse(throw new IllegalStateException(
              s"cdc part $rel lacks a $c= partition segment"))
          val raw = FileStats.unescapePathSegment(
            seg.substring(c.length + 1))
          c -> (if (raw == "__HIVE_DEFAULT_PARTITION__") None
            else Some(raw))
        }
        val name = s"cdc-$version-$i-${java.util.UUID.randomUUID()}" +
          ".snappy.parquet"
        val target = new Path(destDir, s"_change_data/$name")
        if (!fs.rename(f.getPath, target))
          throw new java.io.IOException(
            s"cdc move ${f.getPath} -> $target failed")
        val cdc = m.createObjectNode()
        val o = cdc.putObject("cdc")
        o.put("path", s"_change_data/$name")
        val pvo = o.putObject("partitionValues")
        pv.foreach {
          case (c, Some(v)) => pvo.put(c, v)
          case (c, None) => pvo.putNull(c)
        }
        o.put("size", fs.getFileStatus(target).getLen)
        o.put("dataChange", false)
        lines += m.writeValueAsString(cdc)
      }
      fs.delete(tmpDir, true)
    }

    val logDir = new Path(destDir, "_delta_log")
    fs.mkdirs(logDir)
    val commit = new Path(logDir, s"${pad(version)}.json")
    // exclusive create — two concurrent publishers of the same version
    // surface a conflict instead of silently overwriting history
    LakeTable.writeStringExclusive(fs, commit,
      lines.result().mkString("", "\n", "\n"))
    fs.makeQualified(commit).toString
  }

  /** LOG CLEANUP (Delta's metadata-retention step): delete commit
    * JSONs at or below the checkpoint version whose age exceeds
    * `retentionMs` (default 30 days — `delta.logRetentionDuration`'s
    * default). Requires a checkpoint — state reconstruction seeds
    * from it, so the aged JSONs are dead weight for current-state
    * reads; what IS lost is version/timestamp travel into the cleaned
    * range (exactly Delta's own trade). Returns the deleted count. */
  def cleanupLog(spark: org.apache.spark.sql.SparkSession,
      destDir: String, retentionMs: Long = 30L * 24 * 3600 * 1000): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val logDir = new Path(destDir, "_delta_log")
    val fs = logDir.getFileSystem(conf)
    val m = Snapshot.mapper
    val lcP = new Path(logDir, "_last_checkpoint")
    require(fs.exists(lcP),
      s"$destDir has no checkpoint — checkpoint() first (cleanup " +
        "would otherwise destroy the only state reconstruction path)")
    val cv = m.readTree(LakeTable.readString(fs, lcP))
      .path("version").asLong()
    val commitRe = """(\d{20})\.json""".r
    val cutoff = System.currentTimeMillis() - retentionMs
    fs.listStatus(logDir).count { s =>
      s.getPath.getName match {
        case commitRe(v) if v.toLong <= cv &&
            s.getModificationTime < cutoff =>
          fs.delete(s.getPath, false)
        case _ => false
      }
    }.toLong
  }

  /** Fold the log at `destDir` into a spec-shaped parquet CHECKPOINT
    * of the latest version (one row per action: protocol, metaData,
    * each live add) plus `_last_checkpoint`, after which readers
    * replay O(1) files and JSON commits ≤ the checkpoint version are
    * no longer needed for current-state reads. Returns the checkpoint
    * version. */
  def checkpoint(spark: org.apache.spark.sql.SparkSession,
      destDir: String): Long = {
    import org.apache.spark.sql.Row
    val st = DeltaImport.state(spark, destDir, versionAsOf = None)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(destDir).getFileSystem(conf)
    val m = Snapshot.mapper
    val protocolT = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    val formatT = StructType(Seq(
      StructField("provider", StringType),
      StructField("options", MapType(StringType, StringType))))
    val metaT = StructType(Seq(
      StructField("id", StringType),
      StructField("format", formatT),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    val dvT = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType,
        valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", dvT),
      // row tracking: a checkpoint that dropped baseRowId would strip
      // every fresh row's id from readers seeded by it
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType)))
    val removeT = StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType),
      // reconciliation keys on (path, deletionVector.uniqueId) — a
      // tombstone re-emitted without its descriptor would reference a
      // different key than the remove action it preserves
      StructField("deletionVector", dvT)))
    val txnT = StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))
    val domainT = StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType)))
    val ckptT = StructType(Seq(
      StructField("protocol", protocolT),
      StructField("metaData", metaT),
      StructField("add", addT),
      StructField("remove", removeT),
      StructField("txn", txnT),
      StructField("domainMetadata", domainT)))
    // checkpoint paths are the add action's VERBATIM string when the
    // replay kept it (removes and foreign replayers reconcile on the
    // exact string), else the canonical URL-ENCODED Path.toUri form —
    // NEVER the decoded path, which would be decoded AGAIN on replay
    // and break every hive-special partition value the first time
    // state is seeded from a checkpoint
    def enc(uri: String): String = new Path(uri).toUri.toString
    val protoRow = Row(Row(st.minReaderVersion, st.minWriterVersion,
      if (st.readerFeatures.isEmpty) null else st.readerFeatures.toSeq,
      if (st.writerFeatures.isEmpty) null else st.writerFeatures.toSeq),
      null, null, null, null, null)
    val metaRow = Row(null, Row(st.metaId,
      Row("parquet", Map.empty[String, String]), st.schema.json,
      st.partitionColumns, st.configuration, st.createdTime),
      null, null, null, null)
    val addRows = st.adds.map(a => Row(null, null,
      Row(if (a.rawPath.nonEmpty) a.rawPath else enc(a.uri),
        a.partitionValues.map { case (k, v) =>
        k -> v.orNull }, a.size, a.modificationTime, true,
        a.stats.orNull,
        a.dv.map(d => Row(d.storageType, d.pathOrInlineDv,
          d.offset.map(Int.box).orNull, d.sizeInBytes,
          d.cardinality)).orNull,
        a.baseRowId.map(Long.box).orNull,
        a.defaultRowCommitVersion.map(Long.box).orNull),
      null, null, null))
    // un-expired remove tombstones: the spec expects them (a VACUUM or
    // CDF consumer layered on the exported log reasons over recent
    // removes); expired ones age out of the checkpoint
    val retentionMs = spark.conf
      .getOption("spark.graft.delta.tombstone-retention-ms")
      .map(_.toLong).getOrElse(7L * 24 * 3600 * 1000)
    val cutoff = System.currentTimeMillis() - retentionMs
    val rmRows = st.tombstones.filter(_.deletionTimestamp >= cutoff)
      .map { t =>
        Row(null, null, null, Row(t.rawPath, t.deletionTimestamp, true,
          t.dv.map(d => Row(d.storageType, d.pathOrInlineDv,
            d.offset.map(Int.box).orNull, d.sizeInBytes,
            d.cardinality)).orNull), null, null) }
    val txnRows = st.txns.toSeq.map { case (app, v) =>
      Row(null, null, null, null, Row(app, v), null) }
    // live domain metadata MUST ride the checkpoint (spec) — dropping
    // delta.rowTracking would lose the row-id high-water mark
    val domainRows = st.domainMetadata.toSeq.collect {
      case (dom, (cfg, removed)) if !removed =>
        Row(null, null, null, null, null, Row(dom, cfg, false)) }
    val actionRows = protoRow +: metaRow +:
      (addRows ++ rmRows ++ txnRows ++ domainRows)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(actionRows, 1), ckptT)
    val ckpt = new Path(destDir,
      s"_delta_log/${pad(st.version)}.checkpoint.parquet")
    val tmpDir = new Path(destDir, s"_delta_log/.ckpt-tmp-${st.version}")
    df.coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
    val part = fs.listStatus(tmpDir).map(_.getPath)
      .find(p => p.getName.endsWith(".parquet")).getOrElse(
        throw new IllegalStateException("checkpoint write produced no file"))
    if (fs.exists(ckpt)) fs.delete(ckpt, false)
    fs.rename(part, ckpt)
    fs.delete(tmpDir, true)
    val lc = m.createObjectNode()
    lc.put("version", st.version)
    lc.put("size", actionRows.size.toLong)
    val lcP = new Path(destDir, "_delta_log/_last_checkpoint")
    val tmp = new Path(destDir, s"_delta_log/._last_checkpoint.tmp")
    // a crashed prior checkpoint may have left the temp behind — it is
    // never live state (readers only see _last_checkpoint), reclaim it
    if (fs.exists(tmp)) fs.delete(tmp, false)
    LakeTable.writeStringExclusive(fs, tmp, m.writeValueAsString(lc))
    if (fs.exists(lcP)) fs.delete(lcP, false)
    fs.rename(tmp, lcP)
    st.version
  }
}
