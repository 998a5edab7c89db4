package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SLOWLY-CHANGING-DIMENSION TYPE 2 maintenance (≙ the Delta/Iceberg
  * SCD2 merge pattern the reference's CDC-silver layer feeds — its DMS
  * change stream, `/root/reference/scripts/bronze-silver.py:209-217`,
  * keeps only the LATEST row per key; a type-2 dimension keeps every
  * version with its validity interval): the target table holds one row
  * per (business key, version) with
  *
  *   `_valid_from`  — source snapshot id whose commit made it current,
  *   `_valid_to`    — snapshot id that superseded it (NULL = open),
  *   `_is_current`  — `_valid_to IS NULL`, materialized for pruning
  *                    (an all-history file has min=max=false and drops
  *                    from every current-row scan at the manifest).
  *
  * Each [[refresh]] reads the source's row-level changelog over the
  * un-applied snapshot range and applies it in ONE merge commit:
  *
  *   1. fold each (key, commit) to its post-image — the commit's
  *      inserted row, or NULL when the commit net-deleted the key
  *      (an update arrives as delete+insert at one snapshot and folds
  *      to the insert; rewrite-carried rows never appear because the
  *      changelog cancels them),
  *   2. suppress no-op versions: a post-image equal to the key's
  *      effective predecessor (the previous in-batch image, or the
  *      dimension's open row for the first event) creates no version —
  *      a COW rewrite that touched untracked columns is not a change,
  *   3. turn surviving events into version rows (`_valid_from` = the
  *      commit, `_valid_to` = the key's next event, open when none)
  *      and one closure per key (the dimension's open row closes at
  *      the key's first event — a net delete closes without successor),
  *   4. MERGE on (keys…, `_valid_from`): closures match and update
  *      `_valid_to`/`_is_current`, versions insert; the applied source
  *      snapshot rides the SAME commit ([[LakeTable.mergeClauses]]
  *      `extraProperties`), so refresh is idempotent and crash-safe.
  *
  * Scale: cost ∝ changed rows, never source or dimension size — the
  * changelog reads only commit deltas, the window runs over batch
  * events, the open-row lookup is a keyed join against the
  * `_is_current` slice (manifest-pruned: history-only files carry
  * min=max=false), and the merge rewrites only key-affected files
  * (stats/Bloom pruned). A 100 TB fact's daily key trickle maintains a
  * billion-row dimension in seconds; the recompute alternative re-sorts
  * the world's history per run. */
object ScdDimension {

  /** Applied-source watermark (same contract as [[IncrementalMv]]). */
  val WatermarkProp = "graft.scd2.source"
  /** Definition properties ([[define]]) — let `CALL
    * system.refresh_scd2('dim')` run without re-supplying the shape. */
  val SourceTableProp = "graft.scd2.source-table"
  val KeysProp = "graft.scd2.keys"
  val AttrsProp = "graft.scd2.attrs"

  val FromCol = "_valid_from"
  val ToCol = "_valid_to"
  val CurrentCol = "_is_current"

  /** The dimension schema for `keys` + tracked `attrs` over `source`. */
  def dimensionSchema(source: StructType, keys: Seq[String],
      attrs: Seq[String]): StructType = {
    require(keys.nonEmpty, "SCD2 needs at least one business-key column")
    require(attrs.nonEmpty, "SCD2 needs at least one tracked attribute")
    val have = source.fieldNames.toSet
    val missing = (keys ++ attrs).filterNot(have)
    require(missing.isEmpty,
      s"source has no column(s): ${missing.mkString(", ")}")
    val overlap = keys.toSet.intersect(attrs.toSet)
    require(overlap.isEmpty,
      s"column(s) both key and attribute: ${overlap.mkString(", ")}")
    val reserved = Seq(FromCol, ToCol, CurrentCol).filter(have)
    require(reserved.isEmpty,
      s"source column(s) collide with SCD2 columns: ${reserved.mkString(", ")}")
    StructType((keys ++ attrs).map(n => source(n)) ++ Seq(
      StructField(FromCol, LongType, nullable = false),
      StructField(ToCol, LongType, nullable = true),
      StructField(CurrentCol, BooleanType, nullable = false)))
  }

  /** Stamp the SCD2 definition on `target` so refreshes can be driven
    * BY NAME (`CALL system.refresh_scd2`) — it travels with the table. */
  def define(target: LakeTable, sourceTable: String, keys: Seq[String],
      attrs: Seq[String]): Unit =
    target.setProperties(Map(
      SourceTableProp -> sourceTable,
      KeysProp -> keys.mkString(","),
      AttrsProp -> attrs.mkString(",")))

  /** Staleness of a defined dimension — pure driver arithmetic (two
    * HEAD reads, zero data I/O), same contract as
    * [[IncrementalMv.staleness]]. */
  def staleness(cat: LakeCatalog, ns: String, targetName: String):
      (String, Long, Long, Long, Boolean) = {
    val tgt = cat.loadTable(ns, targetName)
    val srcName = tgt.properties.getOrElse(SourceTableProp,
      throw new IllegalArgumentException(
        s"$targetName is not a defined SCD2 dimension — missing " +
          s"$SourceTableProp"))
    val applied = tgt.properties.get(WatermarkProp)
      .map(_.toLong).getOrElse(0L)
    val head = cat.loadTable(ns, srcName).currentSnapshotId.getOrElse(0L)
    (srcName, applied, head, (head - applied).max(0L), head > applied)
  }

  /** Refresh a DEFINED dimension by catalog name. */
  def refreshByName(cat: LakeCatalog, ns: String,
      targetName: String): Long = {
    val tgt = cat.loadTable(ns, targetName)
    val props = tgt.properties
    val srcName = props.getOrElse(SourceTableProp,
      throw new IllegalArgumentException(
        s"$targetName is not a defined SCD2 dimension — missing " +
          s"$SourceTableProp (call ScdDimension.define first)"))
    def list(p: String) =
      props(p).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    refresh(cat.loadTable(ns, srcName), tgt, list(KeysProp),
      list(AttrsProp))
  }

  /** Apply the source's un-applied changelog range; no-op when already
    * current. Returns the target snapshot after the refresh.
    *
    * `useLineage` (requires `write.row-lineage=true` on the source)
    * swaps the content-diff changelog for
    * [[LakeTable.changesWithLineage]]'s id-keyed one — same dimension
    * bit-for-bit (the lineage vocabulary folds back to insert/delete
    * before the shared apply core; ScdDimensionSpec proves the
    * equivalence). It is OPT-IN, not automatic, because the measured
    * default regime favors content-diff: at sf0.1 (150k keys,
    * scattered ~1.1k-key updates, 20 cycles; PERF.md "Round 16: SCD2
    * lineage-changelog hypothesis") lineage refreshes averaged 6.5 s
    * vs 4.9 s (cow dim) and 5.8 s vs 3.7 s (mor dim) — the
    * id-materializing read (`_metadata.row_index` + first_row_id
    * resolution per side) costs more than the `EXCEPT ALL` pair it
    * replaces. The switch exists for sources
    * where the balance flips (very wide rows, where hashing full
    * row content dominates reading an 8-byte id). */
  def refresh(source: LakeTable, target: LakeTable, keys: Seq[String],
      attrs: Seq[String], useLineage: Boolean = false): Long = {
    val last = target.properties.get(WatermarkProp)
      .map(_.toLong).getOrElse(0L)
    val head = source.currentSnapshotId.getOrElse(0L)
    val already = target.currentSnapshotId.getOrElse(0L)
    if (head <= last) return already
    val changeRows =
      if (useLineage)
        source.changesWithLineage(last, head)
          .withColumn(LakeTable.CHANGE_TYPE_COL,
            when(col(LakeTable.CHANGE_TYPE_COL) === "update_postimage",
              lit("insert"))
              .when(col(LakeTable.CHANGE_TYPE_COL) === "update_preimage",
                lit("delete"))
              .otherwise(col(LakeTable.CHANGE_TYPE_COL)))
          .drop(LakeTable.ROW_ID_COL)
      else source.changes(last, head)
    applyChangeRows(target, changeRows, keys, attrs,
      extraProperties = Map(WatermarkProp -> head.toString))
  }

  /** The shared core of [[refresh]] (batch, range = changelog) and
    * [[continuous]] (streaming, range = one micro-batch): apply
    * `_change_type`/`_commit_snapshot_id`-tagged rows as one merge
    * commit. `txn` makes the merge idempotent on crash replay. */
  def applyChangeRows(target: LakeTable, changeRows: DataFrame,
      keys: Seq[String], attrs: Seq[String],
      extraProperties: Map[String, String] = Map.empty,
      txn: Option[(String, Long)] = None): Long = {
    require(keys.nonEmpty && attrs.nonEmpty, "SCD2 needs keys and attrs")
    val snapC = col(LakeTable.CHANGE_SNAP_COL)
    val kCols = keys.map(col)

    // 1. (key, commit) → post-image struct; NULL post = net delete.
    //    >1 insert per (key, commit) means the source holds multiple
    //    live rows per business key — refuse loudly, never pick one.
    val ev = changeRows
      .groupBy(kCols :+ snapC: _*)
      .agg(
        max(when(col(LakeTable.CHANGE_TYPE_COL) === "insert",
          struct(attrs.map(col): _*))).as("__post"),
        sum(when(col(LakeTable.CHANGE_TYPE_COL) === "insert", 1L)
          .otherwise(0L)).as("__nins"))
      .withColumn("__post", when(col("__nins") > 1, raise_error(concat(
        lit("SCD2: business key ("), concat_ws(",", kCols: _*),
        lit(") has multiple live rows in one source commit — " +
          "a type-2 dimension needs a keyed source"))))
        .otherwise(col("__post")))
      .drop("__nins")

    // 2. effective predecessor: in-batch lag, or (for a key's first
    //    event) the dimension's OPEN row — joined once, keyed, with
    //    history files manifest-pruned by the materialized
    //    `_is_current` bounds (min=max=false drops the file).
    val curOpen = target.scan().where(col(CurrentCol))
      .select(kCols ++ Seq(
        struct(attrs.map(col): _*).as("__cur_post"),
        col(FromCol).as("__cur_from")): _*)
    val w = Window.partitionBy(kCols: _*)
      .orderBy(snapC.asc)
    val withPrev = ev.join(curOpen, keys, "left")
      // LATE/OUT-OF-ORDER data is refused, not silently woven in: an
      // event at or before the open row's _valid_from would either
      // invert its interval (ts < from) or collide with it on the
      // merge key (ts == from). The snapshot-changelog path can never
      // trip this (snapshot ids are monotone past the watermark); the
      // CDC-clock path can, and must resequence upstream instead.
      .withColumn("__post", when(col("__cur_from").isNotNull &&
        snapC <= col("__cur_from"), raise_error(concat(
          lit("SCD2: out-of-order event for key ("),
          concat_ws(",", kCols: _*),
          lit(") at version "), snapC.cast("string"),
          lit(" — the open row began at "),
          col("__cur_from").cast("string"))))
        .otherwise(col("__post")))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__prev", when(col("__rn") === 1, col("__cur_post"))
        .otherwise(lag(col("__post"), 1).over(w)))
    // no-op suppression: equal consecutive live images collapse (an
    // equality chain compares pairwise, so dropping a link keeps the
    // comparison transitive); delete events never suppress.
    val kept = withPrev.where(!(col("__post").isNotNull &&
      (col("__post") <=> col("__prev"))))

    // 3. re-sequence survivors: a version's validity ends at the key's
    //    NEXT event (version or delete); the key's FIRST event closes
    //    the dimension's open row.
    val w2 = Window.partitionBy(kCols: _*).orderBy(snapC.asc)
    val seqd = kept
      .withColumn("__next", lead(snapC, 1).over(w2))
      .withColumn("__first", row_number().over(w2) === 1)
    val versions = seqd.where(col("__post").isNotNull).select(
      kCols ++
        attrs.map(a => col("__post").getField(a).as(a)) ++ Seq(
        snapC.as(FromCol),
        col("__next").as(ToCol),
        col("__next").isNull.as(CurrentCol)): _*)
    val closures = seqd
      .where(col("__first") && col("__cur_from").isNotNull)
      .select(kCols ++
        attrs.map(a => col("__cur_post").getField(a).as(a)) ++ Seq(
        col("__cur_from").as(FromCol),
        snapC.as(ToCol),
        lit(false).as(CurrentCol)): _*)

    // 4. one STAR merge commit on (keys…, _valid_from): a closure row
    //    is the open row's full after-image (same key+attrs, closed
    //    interval) and replaces it; versions insert. Full-row sources
    //    are what let the merge take the zero-rewrite merge-on-read
    //    path when the dimension declares write.merge.mode=
    //    merge-on-read — the right mode for scattered business keys,
    //    where no COW pruning can narrow the rewrite (every file holds
    //    some touched key); under MOR a refresh costs one data file +
    //    one equality-delete file whatever the dimension's size.
    target.merge(versions.unionByName(closures), keys :+ FromCol,
      deleteWhen = None, dropUnmatchedWhen = None,
      extraProperties = extraProperties, txn = txn)
  }

  /** Apply an EXTERNAL CDC batch (the reference's DMS shape — an `Op`
    * column `I`/`U`/`D` plus a change timestamp, exactly what lands in
    * bronze from the reference's raw CSV drops,
    * /root/reference/scripts/bronze-silver.py:209-217) straight to a
    * type-2 dimension, no intermediate lake table: `I`/`U` rows are
    * the key's post-image at `tsCol`, `D` rows close without
    * successor, and the validity domain becomes the CDC clock itself
    * (`_valid_from`/`_valid_to` hold epoch micros of `tsCol` instead
    * of snapshot ids). Same fold, suppression, sequencing, and
    * one-merge apply as [[refresh]] — [[applyChangeRows]] is shared
    * verbatim. Caller contract: at most one event per (key, ts) — the
    * reference's own row_number dedup guarantees it; ANY colliding
    * pair (I+I, I+D, D+D) refuses via this method's own window guard,
    * and an event at or before the open row's interval start refuses
    * in the shared core (late data must resequence upstream). `txn`
    * makes a replayed batch (e.g. a foreachBatch micro-batch)
    * exactly-once. */
  def applyCdcBatch(target: LakeTable, batch: DataFrame,
      keys: Seq[String], attrs: Seq[String], opCol: String,
      tsCol: String, extraProperties: Map[String, String] = Map.empty,
      txn: Option[(String, Long)] = None): Long = {
    // the shared fold's duplicate guard only fires on >1 INSERT per
    // (key, version) — correct for the snapshot changelog, where an
    // update is a delete+insert PAIR at one snapshot. In the CDC
    // domain each row is one whole event, so ANY two events at one
    // (key, ts) — I+D churn within clock granularity included — are
    // ambiguous and must refuse, not fold to whichever op survives.
    val evw = org.apache.spark.sql.expressions.Window
      .partitionBy((keys :+ tsCol).map(col): _*)
    val guarded = batch
      .withColumn("__nev", count(lit(1)).over(evw))
      .withColumn(opCol, when(col("__nev") > 1, raise_error(concat(
        lit("SCD2 CDC: multiple events for key ("),
        concat_ws(",", keys.map(col): _*),
        lit(") at one timestamp — dedup upstream (the reference's " +
          "row_number pattern) before applying"))))
        .otherwise(col(opCol)))
      .drop("__nev")
    val asChanges = guarded.select(
      (keys ++ attrs).map(col) ++ Seq(
        when(upper(col(opCol)) === "D", lit("delete"))
          .otherwise(lit("insert")).as(LakeTable.CHANGE_TYPE_COL),
        unix_micros(col(tsCol).cast("timestamp"))
          .as(LakeTable.CHANGE_SNAP_COL)): _*)
    applyChangeRows(target, asChanges, keys, attrs, extraProperties,
      txn)
  }

  /** CONTINUOUS maintenance: tail the source's row-level change feed
    * and apply each micro-batch with a snapshot-aligned merge
    * watermark — exactly-once under crash replay and checkpoint loss,
    * same contract as [[IncrementalMv.continuous]]. Drains whatever
    * has arrived (AvailableNow) then returns. */
  def continuous(spark: org.apache.spark.sql.SparkSession,
      sourceRoot: String, target: LakeTable, keys: Seq[String],
      attrs: Seq[String], appId: String, checkpoint: String): Unit = {
    val q = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "true").load(sourceRoot)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val wm = target.properties.get(s"txn.$appId")
          .map(_.toLong).getOrElse(0L)
        val fresh = batch.where(col(LakeTable.CHANGE_SNAP_COL) > wm)
          .persist()
        try {
          val mx = fresh.agg(max(col(LakeTable.CHANGE_SNAP_COL)))
            .head.get(0)
          if (mx != null)
            applyChangeRows(target, fresh, keys, attrs,
              txn = Some((appId, mx.asInstanceOf[Long])))
        } finally fresh.unpersist()
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
