package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.lake.{LakeCatalog, LakeTable}
import graft.multimodal.MediaPipeline
import graft.operators.{AsOfJoin, BandJoin, Contamination, Dedup, Dsir, Funnel, GopherFilter, LexicalQuality, Mixture, NgramLm, PiiScrub, QualityClassifier, RepetitionMetrics, SaltedJoin, Sampling, SemanticDedup, SequencePacking, Sessionize, ShardPacking, SimilaritySearch, TextDedup, VectorIndex}
import graft.pipeline.{GoldenFixture, PipelineRunner}
import graft.plans.expressions.{cosine, fingerprint}
import graft.streaming.{StreamingIngest, StreamingSessionize}

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2 inventory + the beyond-reference training-data ops),
  * with a DuckDB-equivalent `oracleSql` for every SQL-expressible one.
  *
  * Conventions shared by query and oracle (the driver hash-compares
  * sorted columns): identical column names/aliases on both sides; sums of
  * integers CAST to BIGINT in DuckDB (it widens to HUGEINT); doubles
  * rounded (2dp money, 4dp ratios, 6dp cosines); event-time compared in
  * epoch MICROseconds (events.ts normalizes to `ts_us` via the
  * schema-adaptive [[graft.sources.EventTime]] — ns longs truncate,
  * µs timestamps read exact; both ≡ DuckDB `epoch_us(ts)`);
  * timestamp literals built with `to_timestamp`
  * so the session timezone (UTC), not the JVM default, interprets them.
  */
object SparkEntry {

  // ------------------------------------------------------------- helpers

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events' `ts` has shipped as int64 nanos AND as TIMESTAMP(µs) across
    * fixture generations → normalize via the schema-adaptive
    * [[graft.sources.EventTime]] (ts_us ≡ DuckDB `epoch_us(ts)` either
    * way). */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.sources.EventTime.withTsUs(t(s, dir, "events"))
  }

  /** Scale-adaptive read parallelism (guide §2/§6): the local fixture
    * tables arrive as single-row-group parquet files, so their scans
    * plan as ONE partition and every narrow downstream computation
    * (shingling, signatures, PQ encode, feature extraction) serializes
    * into one task. Redistribute ONLY when the scan is narrower than
    * the session's cores — at production scale inputs already carry
    * ≥ cores splits and this is a no-op, so no shuffle is ever added
    * to a 100 TB read. The decision reads the planned partition count
    * (no job runs). */
  private def widen(s: SparkSession, df: DataFrame): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    // read the planned SCAN split count from the physical plan's leaves
    // — df.rdd would additionally build the InternalRow→Row deserializer
    // plan and force codegen of the whole stage, all thrown away.
    // NOTE: the round-robin repartition changes row→partition
    // assignment; queries added over docs()/emb() must not depend on
    // partition identity (spark_partition_id, input_file_name,
    // coalesce order).
    val scanParts = df.queryExecution.executedPlan.collectLeaves().map {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDDs().map(_.getNumPartitions).sum
      case o => o.execute().getNumPartitions
    }.sum
    if (scanParts >= cores) df else df.repartition(cores)
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    widen(s, t(s, dir, "documents"))

  /** embeddings with the vector column normalized to array<float> —
    * the custom vector Expressions bind to FloatType elements, and this
    * keeps a future fixture regeneration that widens to double from
    * crashing the whole ANN family (same drift class [[graft.sources
    * .EventTime]] absorbs for events.ts). */
  private def emb(s: SparkSession, dir: String): DataFrame =
    widen(s, t(s, dir, "embeddings"))
      .withColumn("embedding", col("embedding").cast("array<float>"))

  private val tmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpDirs.forEach { d =>
        try {
          import scala.jdk.CollectionConverters._
          Files.walk(d).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(p => Files.deleteIfExists(p))
        } catch { case _: Exception => () }
      }))

  /** The reference's merge_query shape verbatim (dedup-window subquery
    * over `__temp_table`, star actions) — reference:
    * scripts/bronze-silver.py:254-269, with the ON clause completed to
    * its documented key (the text truncates at `ON target...`; the key
    * is invoiceid per the dedup partition key at :261). */
  private val referenceMergeQuery = """
MERGE INTO silver_orders AS target
USING (
    SELECT *
    FROM (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY invoiceid
                   ORDER BY processed_time DESC
               ) AS row_num
        FROM __temp_table
    ) AS deduped_source
    WHERE row_num = 1
) AS source
ON target.invoiceid = source.invoiceid
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *
"""

  /** Temp dir for a query's scratch lake table, removed at JVM exit —
    * repeated Verify/Bench runs must not accumulate table copies. */
  private def tmp(prefix: String): String = {
    cleanupHook
    val d = Files.createTempDirectory(prefix)
    tmpDirs.add(d)
    d.toString
  }

  /** Filter to docs with ≥3 tokens — shared by the n-gram query and its
    * oracle (short docs generate no trigrams in SQL; mirroring the filter
    * keeps both sides identical). */
  private def docsWithTrigrams(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).where(size(TextFunctions.tokens(col("text"))) >= 3)

  // ------------------------------------------------------------ flagship

  /** Flagship: revenue-per-nation star join (broadcast dims, single
    * shuffle-agg) on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    revenueByNation(spark, "/root/testdata/sf0.001")

  private def revenueByNation(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))

  // -------------------------------------------------------------- queries

  /** CALLER CONTRACT — cache release: some query bodies persist
    * deliberately-reused frames for the query's lifetime (q_ann_recall*
    * persist the corpus and the exact top-k each method row re-joins;
    * operator-internal persists follow TextDedup.scala's cache-release
    * contract). The returned DataFrame still references those caches,
    * so a query body cannot unpersist them itself; every iterator of
    * this map (Bench / Verify / Prof — and any future caller) MUST call
    * `spark.catalog.clearCache()` after materializing each query, or
    * MEMORY_AND_DISK caches accumulate across queries. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference parity: scans / projections / filters / aggregates
    "q_count_lineitem" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("n"))),

    "q_project_orders" -> ((s, dir) =>
      t(s, dir, "orders").select("o_orderkey", "o_orderpriority")),

    "q_filter_pushdown" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <
          to_timestamp(lit("1997-01-01"), "yyyy-MM-dd"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("l_extendedprice"))),

    "q_agg_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    "q_join_revenue_by_nation" -> ((s, dir) => revenueByNation(s, dir)),

    "q_broadcast_dim_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 2).as("total_acctbal"))),

    "q_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_anti_semi_join" -> ((s, dir) => {
      // customers with ≥1 order (semi) minus a flag for none (anti
      // exercised as count of excluded) — emitted as one aggregate row
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val semi = c.join(o, col("c_custkey") === col("o_custkey"),
        "left_semi").agg(count(lit(1)).as("with_orders"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"),
        "left_anti").agg(count(lit(1)).as("without_orders"))
      semi.crossJoin(anti)
    }),

    "q_set_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val highValue = o.where(col("o_totalprice") > 200000)
        .select("o_orderkey")
      val urgent = o.where(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      highValue.except(urgent)
    }),

    "q_pivot" -> ((s, dir) =>
      events(s, dir)
        .withColumn("bucket", pmod(col("user_id"), lit(10)))
        .groupBy("bucket")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))),

    "q_rollup" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .rollup(col("n_regionkey"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 2).as("total_acctbal"))),

    "q_json_extract" -> ((s, dir) =>
      events(s, dir).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))),

    "q_percentiles" -> ((s, dir) =>
      events(s, dir).groupBy("event_type").agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(min(col("value")), 2).as("mn"),
        round(max(col("value")), 2).as("mx"))),

    // ---- reference parity: window dedup / top-1 (the silver semantics)
    "q_window_dedup_latest" -> ((s, dir) =>
      Dedup.latestPerKey(events(s, dir), Seq("user_id"),
        Seq(col("ts_us"), col("event_id")))
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(col("value"), 2).as("value"), col("ts_us"))),

    "q_top1_latest_event" -> ((s, dir) =>
      events(s, dir)
        .orderBy(col("ts_us").desc, col("event_id").desc)
        .limit(1)
        .select("event_id", "user_id", "event_type")),

    // ---- reference parity: lake table (append/incremental/merge/history)
    "q_incremental_scan" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val cut = to_timestamp(lit("1998-01-01"), "yyyy-MM-dd")
      val root = tmp("graft-inc") + "/orders"
      val lt = LakeTable.create(s, root, orders.schema)
      val s1 = lt.append(orders.where(col("o_orderdate") < cut))
      val s2 = lt.append(orders.where(col("o_orderdate") >= cut))
      lt.incrementalScan(s1, s2)
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    // add_files import: half of orders natively appended, half written
    // as EXTERNAL parquet by plain Spark then imported by RENAME (one
    // metadata commit, zero rewrite) — the scan proves the imported
    // files read identically to native ones, stats and all
    "q_add_files" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val base = tmp("graft-addf")
      val root = base + "/orders"
      val ext = base + "/external"
      val lt = LakeTable.create(s, root, orders.schema)
      lt.append(orders.where(col("o_orderkey") % 2 === 0))
      orders.where(col("o_orderkey") % 2 =!= 0)
        .write.mode("overwrite").parquet(ext)
      lt.addFiles(ext)
      lt.scan().select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    // row lineage: stable _row_id assigned at first commit, preserved
    // through a COW update AND a COW delete — the query PROVES the
    // invariants (one id per surviving row, all ids unchanged) and the
    // oracle is the surviving-key count. Absolute id values are
    // file-assignment-order dependent, so invariants, not values.
    "q_row_lineage" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val root = tmp("graft-lineage") + "/orders"
      val lt = LakeTable.create(s, root, orders.schema,
        properties = Map(LakeTable.PROP_ROW_LINEAGE -> "true"))
      lt.append(orders)
      val before = lt.scanWithLineage()
        .select(col("o_orderkey"), col(LakeTable.ROW_ID_COL).as("rid"))
      lt.update(col("o_orderkey") % 10 === 0,
        Map("o_orderstatus" -> lit("X")))
      lt.delete(col("o_orderkey") % 7 === 0)
      val after = lt.scanWithLineage()
        .select(col("o_orderkey"), col(LakeTable.ROW_ID_COL).as("rid2"))
      before.join(after, "o_orderkey").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("rid2")).as("n_ids"),
        sum(when(col("rid") === col("rid2"), 1L).otherwise(0L))
          .as("n_preserved"))
    }),

    // lineage-typed CDC: the changelog classifies a COW rewrite's
    // modified rows as update pre/post images BY ROW ID (Delta-CDF
    // vocabulary) — carried rows cancel, per-commit cost ∝ delta
    "q_cdc_lineage" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val root = tmp("graft-cdclin") + "/orders"
      val lt = LakeTable.create(s, root, orders.schema,
        properties = Map(LakeTable.PROP_ROW_LINEAGE -> "true"))
      lt.append(orders)
      lt.update(col("o_orderkey") % 10 === 0,
        Map("o_orderstatus" -> lit("X")))
      lt.delete(col("o_orderkey") % 7 === 0)
      lt.changesWithLineage(0L, lt.currentSnapshotId.get)
        .groupBy(col(LakeTable.CHANGE_TYPE_COL).as("change_type"))
        .agg(count(lit(1)).as("n"))
    }),

    "q_merge_upsert" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val root = tmp("graft-merge") + "/orders"
      val target = orders.where(col("o_orderkey") % 3 =!= 0)
      val source = orders.where(col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val lt = LakeTable.create(s, root, orders.schema,
        partitionBy = Seq("o_orderpriority"))
      lt.append(target)
      lt.merge(source, Seq("o_orderkey"))
      lt.scan().select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_table_history" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val root = tmp("graft-hist") + "/nation"
      val lt = LakeTable.create(s, root, nation.schema)
      lt.append(nation.where(col("n_nationkey") < 10))
      lt.append(nation.where(col("n_nationkey") >= 10))
      lt.merge(nation.where(col("n_nationkey") === 3)
        .withColumn("n_name", lit("RENAMED")), Seq("n_nationkey"))
      lt.history.select("snapshot_id", "parent_id", "operation",
        "is_current_ancestor")
    }),

    "q_time_travel" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val cut = to_timestamp(lit("1998-01-01"), "yyyy-MM-dd")
      val root = tmp("graft-tt") + "/orders"
      val lt = LakeTable.create(s, root, orders.schema)
      val s1 = lt.append(orders.where(col("o_orderdate") < cut))
      lt.append(orders.where(col("o_orderdate") >= cut))
      lt.scanAt(s1) // VERSION AS OF the first append
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_cow_delete" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val root = tmp("graft-del") + "/orders"
      val lt = LakeTable.create(s, root, orders.schema,
        partitionBy = Seq("o_orderpriority"))
      lt.append(orders)
      lt.delete(col("o_orderstatus") === "F")
      lt.scan().select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    // retention delete on a date-sorted table: write.sort.order makes
    // per-file o_orderdate ranges disjoint, so the cutoff predicate
    // FULLY covers the old files — they drop from the manifest with
    // zero data I/O (assert: the delete commit writes no files); only
    // the boundary file rewrites
    "q_metadata_delete" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val root = tmp("graft-metadel") + "/orders"
      val lt = LakeTable.create(s, root, orders.schema)
      // the production retention shape: periodic ingests, each batch's
      // file covering its own time range (orders span 1995..2001)
      def ntz(x: String) = lit(x).cast("timestamp_ntz")
      Seq(("1990-01-01", "1997-01-01"), ("1997-01-01", "1999-01-01"),
        ("1999-01-01", "2002-01-01")).foreach { case (lo, hi) =>
        lt.append(orders.where(col("o_orderdate") >= ntz(lo) &&
          col("o_orderdate") < ntz(hi)).coalesce(1))
      }
      // NTZ literal: o_orderdate reads as TIMESTAMP_NTZ — a tz literal
      // would wrap the COLUMN in a cast and defeat the whole-file proof
      lt.delete(col("o_orderdate") < ntz("1998-01-01"))
      val snap = lt.currentSnapshot.get
      assert(snap.addedFiles.size <= 1,
        s"retention delete should drop old files whole and rewrite at " +
          s"most the boundary file, wrote ${snap.addedFiles.size}")
      assert(snap.removedFiles.size > snap.addedFiles.size,
        "no file was dropped metadata-only")
      lt.scan().select(col("o_orderkey"), col("o_orderdate"))
    }),

    "q_cow_update" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val root = tmp("graft-upd") + "/orders"
      val lt = LakeTable.create(s, root, orders.schema,
        partitionBy = Seq("o_orderpriority"))
      lt.append(orders)
      lt.update(col("o_orderpriority") === "1-URGENT",
        Map("o_totalprice" -> col("o_totalprice") * 2))
      lt.scan().select(col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_time_travel_ts" -> ((s, dir) => {
      // TIMESTAMP AS OF: capture the wall-clock of the first append,
      // append more, then travel back by timestamp
      val orders = t(s, dir, "orders")
      val cut = to_timestamp(lit("1998-01-01"), "yyyy-MM-dd")
      val root = tmp("graft-ttts") + "/orders"
      val lt = LakeTable.create(s, root, orders.schema)
      val s1 = lt.append(orders.where(col("o_orderdate") < cut))
      val ts1 = lt.snapshot(s1).timestampMs
      // the second commit must carry a strictly later made_current_at —
      // wait out the clock tick instead of trusting a fixed sleep
      while (System.currentTimeMillis() <= ts1) Thread.sleep(1)
      lt.append(orders.where(col("o_orderdate") >= cut))
      lt.scanAtTimestamp(ts1)
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_schema_evolution" -> ((s, dir) => {
      // metadata-only rename + add across two write eras; the scan must
      // read old files through the manifest name mapping, new files
      // natively, and NULL-fill the added column for the old era
      val nation = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val root = tmp("graft-evolve") + "/nation"
      val lt = LakeTable.create(s, root, nation.schema)
      lt.append(nation.where(col("n_nationkey") < 10))
      lt.renameColumn("n_name", "nation_name")
      lt.addColumn("flag", org.apache.spark.sql.types.StringType)
      lt.append(nation.where(col("n_nationkey") >= 10)
        .withColumnRenamed("n_name", "nation_name")
        .withColumn("flag", lit("late")))
      lt.scan()
    }),

    "q_default_column" -> ((s, dir) => {
      // column DEFAULTs across write eras: era-0 files predate the
      // column and must project the default at scan time (zero
      // rewrite); era-1 files omit it at write time and materialize
      // the default; era-2 writes it explicitly — including NULL,
      // which must NOT be coalesced to the default
      val nation = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val root = tmp("graft-defcol") + "/nation"
      val lt = LakeTable.create(s, root, nation.schema)
      lt.append(nation.where(col("n_nationkey") < 10))
      lt.addColumn("tier", org.apache.spark.sql.types.StringType,
        defaultSql = Some("'standard'"))
      lt.append(nation.where(col("n_nationkey") >= 10 &&
        col("n_nationkey") < 20))
      lt.append(nation.where(col("n_nationkey") >= 20)
        .withColumn("tier",
          when(col("n_nationkey") % 2 === 0, lit("vip"))))
      lt.scan()
    }),

    "q_partition_evolution" -> ((s, dir) => {
      // partition evolution: era 0 unpartitioned, era 1 partitioned by
      // o_orderpriority; a merge then updates keys in BOTH layout eras
      // and the scan unions them
      val orders = t(s, dir, "orders")
      val cut = to_timestamp(lit("1997-01-01"), "yyyy-MM-dd")
      val root = tmp("graft-evospec") + "/orders"
      val lt = LakeTable.create(s, root, orders.schema)
      lt.append(orders.where(col("o_orderdate") < cut))
      lt.evolvePartitionSpec(Seq("o_orderpriority"))
      lt.append(orders.where(col("o_orderdate") >= cut))
      lt.merge(orders.where(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderstatus", lit("E")), Seq("o_orderkey"))
      lt.scan().select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_mor_merge" -> ((s, dir) => {
      // merge-on-read: same upsert semantics as q_merge_upsert but the
      // merge commits an equality-delete file + the after-image instead
      // of rewriting matched files; a follow-up compact folds deletes in
      val orders = t(s, dir, "orders")
      val root = tmp("graft-mor") + "/orders"
      val target = orders.where(col("o_orderkey") % 3 =!= 0)
      val source = orders.where(col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val lt = LakeTable.create(s, root, orders.schema,
        properties = Map(
          LakeTable.PROP_MERGE_MODE -> "merge-on-read",
          LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
      lt.append(target)
      lt.merge(source, Seq("o_orderkey"))
      lt.compact()
      lt.scan().select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_cdc_delete" -> ((s, dir) => {
      // keyed CDC delete: remove every order whose key is in the delete
      // set (stats-pruned COW rewrite of only the touched files)
      val orders = t(s, dir, "orders")
      val root = tmp("graft-cdcdel") + "/orders"
      val lt = LakeTable.create(s, root, orders.schema,
        partitionBy = Seq("o_orderpriority"))
      lt.append(orders)
      lt.deleteByKeys(
        orders.where(col("o_orderkey") % 7 === 0).select("o_orderkey"),
        Seq("o_orderkey"))
      lt.scan().select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_mor_predicate_delete" -> ((s, dir) => {
      // Iceberg-v2-style position deletes: a predicate DELETE and a
      // predicate UPDATE on a merge-on-read table commit (file, ordinal)
      // delete files + (for update) the after-image — zero rewrite of
      // existing data; the scan applies the position anti-join
      val orders = t(s, dir, "orders")
      val root = tmp("graft-morpdel") + "/orders"
      val lt = LakeTable.create(s, root, orders.schema,
        properties = Map(
          LakeTable.PROP_DELETE_MODE -> "merge-on-read",
          LakeTable.PROP_UPDATE_MODE -> "merge-on-read"))
      lt.append(orders)
      lt.delete(col("o_orderstatus") === "F")
      lt.update(col("o_orderpriority") === "1-URGENT",
        Map("o_totalprice" -> col("o_totalprice") * 2))
      lt.scan().select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_iceberg_export" -> ((s, dir) => {
      // the Iceberg v2 handoff, CONTENT-checked: export an
      // identity-partitioned table, then answer per-partition row
      // counts FROM THE EXPORTED METADATA ALONE (metadata.json →
      // manifest-list avro → manifest avro, read back with the same
      // avro library) — hash-equal to the source aggregate iff the
      // manifest's partition values and record counts are faithful
      import s.implicits._
      val orders = t(s, dir, "orders")
      val base = tmp("graft-iceexp")
      val lt = LakeTable.create(s, s"$base/orders", orders.schema,
        partitionBy = Seq("o_orderpriority"))
      lt.append(orders)
      val metaPath = graft.lake.IcebergExport.export(lt, s"$base/ice")
      val entries = graft.lake.IcebergExport.readEntries(metaPath,
        s.sessionState.newHadoopConf())
      entries.map(e => (e._3("o_orderpriority"), e._2))
        .groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
        .toSeq.toDF("o_orderpriority", "n_rows")
    }),

    "q_iceberg_export_mor" -> ((s, dir) => {
      // the MOR half of the Iceberg handoff, CONTENT-checked: a MOR
      // table carrying BOTH a consolidated deletion vector and loose
      // position-delete files exports WITHOUT compaction (the
      // artifacts re-encode as one v2 position-delete parquet), and
      // the result is reconstructed FROM THE EXPORTED ARTIFACTS ALONE
      // — manifest data URIs anti-joined with the exported (file_path,
      // pos) pairs over plain Spark _metadata row positions. Hash-
      // equal to the predicate algebra iff the re-encoding is
      // faithful. The delete side is bounded by the deleted-row count
      // and auto-broadcasts; no hint needed.
      val orders = t(s, dir, "orders")
      val base = tmp("graft-iceexp-mor")
      val lt = LakeTable.create(s, s"$base/orders", orders.schema,
        properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
      lt.append(orders)
      lt.delete(col("o_orderkey") % 10 === 3)
      lt.consolidateDeleteVectors()
      lt.delete(col("o_custkey") % 7 === 1)
      val metaPath = graft.lake.IcebergExport.export(lt, s"$base/ice")
      val conf = s.sessionState.newHadoopConf()
      val dataUris = graft.lake.IcebergExport
        .readEntries(metaPath, conf).map(_._1)
      val delUris = graft.lake.IcebergExport
        .readDeleteEntries(metaPath, conf).map(_._1)
      def tailOf(c: org.apache.spark.sql.Column) =
        regexp_extract(c, "^(?:.*/)?(data/.+)$", 1)
      val dels = s.read.parquet(delUris: _*)
        .select(tailOf(col("file_path")).as("__f"), col("pos").as("__p"))
      s.read.parquet(dataUris: _*)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          tailOf(col("_metadata.file_path")).as("__f"),
          col("_metadata.row_index").as("__p"))
        .join(dels, Seq("__f", "__p"), "left_anti")
        .drop("__f", "__p")
    }),

    "q_delete_vectors" -> ((s, dir) => {
      // DELETION VECTORS (≡ Iceberg v3 DVs / Delta deletion vectors):
      // a delete-heavy MOR history — four predicate deletes — with the
      // accumulated position-delete artifacts consolidated into ONE
      // per-file bitmap vector MID-history and again at the end, and a
      // MOR update layered on top. Content must equal the plain
      // predicate algebra through every representation change; the
      // read pays one broadcast bitmap row per file instead of one
      // anti-join per delete commit (DeleteVectorsSpec pins the plan
      // shape and artifact counts).
      val orders = t(s, dir, "orders")
      val root = tmp("graft-dv") + "/orders"
      val lt = LakeTable.create(s, root, orders.schema,
        properties = Map(
          LakeTable.PROP_DELETE_MODE -> "merge-on-read",
          LakeTable.PROP_UPDATE_MODE -> "merge-on-read"))
      lt.append(orders)
      lt.delete(col("o_orderkey") % 10 === 3)
      lt.delete(col("o_orderkey") % 7 === 2)
      lt.consolidateDeleteVectors()
      // deletes and updates keep composing on top of the vector
      lt.delete(col("o_custkey") % 11 === 4)
      lt.update(col("o_orderpriority") === "1-URGENT",
        Map("o_totalprice" -> col("o_totalprice") * 2))
      lt.consolidateDeleteVectors()
      lt.scan().select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_table_changes" -> ((s, dir) => {
      // row-level CDC changelog (≡ Iceberg create_changelog_view):
      // append → inserts; MOR keyed delete → pre-image deletes via the
      // carried-file visibility diff; COW update → delete+insert pairs
      val orders = t(s, dir, "orders")
      val root = tmp("graft-changes") + "/orders"
      val target = orders.where(col("o_orderkey") % 3 =!= 0)
      val lt = LakeTable.create(s, root, orders.schema,
        properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
      val s0 = lt.currentSnapshotId.get
      lt.append(target)
      lt.deleteByKeys(
        orders.where(col("o_orderkey") % 7 === 0).select("o_orderkey"),
        Seq("o_orderkey"))
      lt.update(col("o_orderpriority") === "1-URGENT",
        Map("o_totalprice" -> col("o_totalprice") * 2))
      lt.changes(s0, lt.currentSnapshotId.get)
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          col("_change_type"), col("_commit_snapshot_id"))
    }),

    "q_rollback" -> ((s, dir) => {
      // rollback_to_snapshot: a new commit restoring the target state —
      // manifest-only, nothing deleted, history preserved
      val orders = t(s, dir, "orders")
      val cut = to_timestamp(lit("1998-01-01"), "yyyy-MM-dd")
      val root = tmp("graft-rb") + "/orders"
      val lt = LakeTable.create(s, root, orders.schema)
      val s1 = lt.append(orders.where(col("o_orderdate") < cut))
      lt.append(orders.where(col("o_orderdate") >= cut))
      lt.rollbackTo(s1)
      lt.scan().select(col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_bucket_partition" -> ((s, dir) => {
      // hidden partitioning (Iceberg transforms): bucket(8, custkey) ×
      // year(orderdate) — the derived values live only in the directory
      // layout; the keyed delete prunes to the touched buckets, and the
      // scan output is transform-invisible
      val orders = t(s, dir, "orders")
      val root = tmp("graft-bucket") + "/orders"
      val lt = LakeTable.create(s, root, orders.schema,
        partitionBy = Seq("bucket(8, o_custkey)", "year(o_orderdate)"))
      lt.append(orders)
      lt.deleteByKeys(
        orders.where(col("o_custkey") % 97 === 0).select("o_custkey"),
        Seq("o_custkey"))
      lt.scan().select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_iceberg_bucket" -> ((s, dir) => {
      // the ICEBERG-spec bucket transform (murmur3_x86_32 seed 0,
      // IcebergBucketSpec pins the spec's published hash vectors) as a
      // write transform for handoff tables: keyed COW delete prunes by
      // set-membership over the iceberg hash domain, the table exports
      // WITH its bucket[8] spec (native Spark-hash buckets are
      // refused), and the result reads back FROM THE EXPORTED data
      // manifest alone — content-equal to the predicate algebra
      val orders = t(s, dir, "orders")
      val base = tmp("graft-ibucket")
      val lt = LakeTable.create(s, s"$base/orders", orders.schema,
        partitionBy = Seq("bucket_iceberg(8, o_custkey)"))
      lt.append(orders)
      lt.deleteByKeys(
        orders.where(col("o_custkey") % 97 === 0).select("o_custkey"),
        Seq("o_custkey"))
      val metaPath = graft.lake.IcebergExport.export(lt, s"$base/ice")
      val dataUris = graft.lake.IcebergExport.readEntries(metaPath,
        s.sessionState.newHadoopConf()).map(_._1)
      s.read.parquet(dataUris: _*)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_iceberg_export_eq" -> ((s, dir) => {
      // EQUALITY deletes in the Iceberg handoff, sequence semantics
      // CONTENT-checked: keyed MOR deletes + a later same-key
      // re-insert + a second keyed delete export as v2 equality-delete
      // files whose entry sequences suppress STRICTLY older data rows
      // only — the re-insert survives the first delete (its data seq
      // is newer) and falls to the second. Reconstructed FROM THE
      // EXPORTED ARTIFACTS ALONE: data entries carry their faithful
      // sequences, each eq parquet anti-joins on (key match AND
      // data_seq < delete_seq). Hash-equal to the predicate algebra
      // iff both the key values and the sequences are faithful.
      val orders = t(s, dir, "orders")
      val base = tmp("graft-iceexp-eq")
      val lt = LakeTable.create(s, s"$base/orders", orders.schema,
        properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
      lt.append(orders)                                       // seq 2
      lt.deleteByKeys(orders.where(col("o_orderkey") % 10 === 7)
        .select("o_orderkey"), Seq("o_orderkey"))             // seq 3
      lt.append(orders.where(col("o_orderkey") % 20 === 7)
        .withColumn("o_totalprice", col("o_totalprice") * 2)) // seq 4
      lt.deleteByKeys(orders.where(col("o_orderkey") % 40 === 7)
        .select("o_orderkey"), Seq("o_orderkey"))             // seq 5
      val metaPath = graft.lake.IcebergExport.export(lt, s"$base/ice")
      val conf = s.sessionState.newHadoopConf()
      def tailOf(c: org.apache.spark.sql.Column) =
        regexp_extract(c, "^(?:.*/)?(data/.+)$", 1)
      val entries = graft.lake.IcebergExport.readEntries(metaPath, conf)
      import s.implicits._
      val seqDf = entries.map(e =>
          (e._1.replaceFirst("^(?:.*/)?(?=data/)", ""), e._4))
        .toDF("__f", "__seq")
      var cur = s.read.parquet(entries.map(_._1): _*)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          tailOf(col("_metadata.file_path")).as("__f"))
        .join(seqDf, Seq("__f"))
      graft.lake.IcebergExport.readEqualityDeleteEntries(metaPath, conf)
        .foreach { case (uri, _, seq, _) =>
          val keys = s.read.parquet(uri)
            .select(col("o_orderkey").as("__k"))
          cur = cur.join(keys, cur("o_orderkey") === col("__k") &&
            cur("__seq") < lit(seq), "left_anti")
        }
      cur.drop("__f", "__seq")
    }),

    "q_iceberg_roundtrip" -> ((s, dir) => {
      // BOTH halves of the Iceberg handoff under one oracle: an
      // identity-partitioned MOR table with the full delete ladder
      // (predicate position deletes → a consolidated deletion vector →
      // a keyed equality delete → a newer-sequence re-insert) exports
      // to spec v2 metadata, then scans back through IcebergImport —
      // the INDEPENDENT general reader (metadata.json → schema →
      // manifests → MOR application), not the export's own re-read
      // helpers. The identity partition column is load-bearing: it
      // exists only in manifest partition values, never in the data
      // parquet, so a hash match proves metadata-carried identity
      // values, position re-encoding, AND equality sequence semantics
      // all survived the round trip.
      val orders = t(s, dir, "orders")
      val base = tmp("graft-iceround")
      val lt = LakeTable.create(s, s"$base/orders", orders.schema,
        partitionBy = Seq("o_orderstatus"),
        properties = Map(
          LakeTable.PROP_DELETE_MODE -> "merge-on-read",
          LakeTable.PROP_UPDATE_MODE -> "merge-on-read"))
      lt.append(orders)                                      // seq 2
      lt.delete(col("o_orderkey") % 10 === 3)                // positions
      lt.consolidateDeleteVectors()
      lt.deleteByKeys(orders.where(col("o_custkey") % 13 === 2)
        .select("o_custkey"), Seq("o_custkey"))              // equality
      lt.append(orders.where(col("o_custkey") % 26 === 2)
        .withColumn("o_totalprice", col("o_totalprice") * 3))
      val metaPath = graft.lake.IcebergExport.export(lt, s"$base/ice")
      def shape(df: org.apache.spark.sql.DataFrame, src: String) =
        df.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          lit(src).as("src"))
      val mor = shape(graft.lake.IcebergImport.scan(s, metaPath), "mor")
      // DAY-partitioned round trip (three months of orders → ~90 day
      // partitions): the day transform VALUE in each manifest entry
      // inverts to o_orderdate interval bounds at import, so a
      // one-month predicate plans a strict file subset — asserted
      // in-query — while the rows stay oracle-exact
      val dt = LakeTable.create(s, s"$base/byday", orders.schema,
        partitionBy = Seq("day(o_orderdate)"))
      dt.append(orders.where(
        col("o_orderdate") < lit("1995-04-01").cast("timestamp_ntz")))
      val dmeta = graft.lake.IcebergExport.export(dt, s"$base/iceday")
      val dpred =
        col("o_orderdate") >= lit("1995-02-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1995-03-01").cast("timestamp_ntz")
      val tm = graft.lake.IcebergImport.load(dmeta,
        s.sessionState.newHadoopConf())
      val planned = graft.lake.IcebergImport.pruneEntries(s, tm, dpred)
      require(planned.size < tm.dataEntries.size,
        s"day-transform pruning planned ${planned.size} of " +
          s"${tm.dataEntries.size} files — no subset")
      mor.unionAll(shape(
        graft.lake.IcebergImport.scanWhere(s, dmeta, dpred), "day"))
    }),

    "q_iceberg_publish" -> ((s, dir) => {
      // CONTINUOUS publish + incremental mirror consumption, both
      // load-bearing under one oracle: v1 publishes the even half,
      // v2 publishes the odd half as an APPEND-ONLY DELTA (prior
      // manifests carried verbatim), v3 re-publishes after a MOR
      // delete (full-rewrite fallback). 'delta' rows come from
      // incrementalScan over the published history — exactly the rows
      // v2 added, read from v2's delta manifest alone; 'final' rows
      // re-read the v3 current state through the general importer.
      val orders = t(s, dir, "orders")
      val base = tmp("graft-icepub")
      val lt = LakeTable.create(s, s"$base/orders", orders.schema,
        properties = Map(
          LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
      lt.append(orders.where(col("o_orderkey") % 2 === 0))
      val v1 = lt.currentSnapshotId.get
      graft.lake.IcebergExport.publish(lt, s"$base/ice")
      lt.append(orders.where(col("o_orderkey") % 2 === 1))
      val v2 = lt.currentSnapshotId.get
      graft.lake.IcebergExport.publish(lt, s"$base/ice")
      lt.delete(col("o_custkey") % 7 === 3)
      val m3 = graft.lake.IcebergExport.publish(lt, s"$base/ice")
      def shape(df: org.apache.spark.sql.DataFrame, src: String) =
        df.select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          lit(src).as("src"))
      shape(graft.lake.IcebergImport.scan(s, m3), "final")
        .unionAll(shape(graft.lake.IcebergImport.incrementalScan(s, m3,
          fromSnapshot = v1, toSnapshot = Some(v2)), "delta"))
    }),

    "q_delta_skip" -> ((s, dir) => {
      // FILE SKIPPING over the exported Delta log, asserted in-query:
      // a range-clustered export gives every add selective id bounds
      // in its stats JSON, so a narrow key probe must plan a strict
      // subset of files from the log alone — before any parquet opens
      // — through the same PredicatePruning prover governed scans use.
      // The oracle checks the VALUES; the require checks the plan.
      val orders = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice"), 2)
          .as("o_totalprice"))
      val base = tmp("graft-dskip")
      val lt = LakeTable.create(s, s"$base/t", orders.schema)
      lt.append(orders.repartitionByRange(16, col("o_orderkey")))
      graft.lake.DeltaExport.export(lt, s"$base/delta")
      val st = graft.lake.DeltaImport.state(s, s"$base/delta", None)
      val pred = col("o_orderkey") <= 300L
      val kept = graft.lake.DeltaImport.pruneAdds(s, st, pred)
      require(kept.size < st.adds.size,
        s"stats skipping planned ${kept.size}/${st.adds.size} files — " +
          "expected a strict subset for the narrow probe")
      graft.lake.DeltaImport.scanWhere(s, s"$base/delta", pred)
    }),

    "q_delta_variant" -> ((s, dir) => {
      // VARIANT-typed Delta read (reader feature `variantType`, the
      // 2025 delta-spark 4.x shape): the fixture is a hand-written
      // reader-v3 log over parquet holding a real VARIANT column
      // (Spark 4's native unshredded metadata+value binary pair —
      // byte-identical to what delta-spark writes for an unshredded
      // variant). The engine-free reader scans it under the declared
      // variant schema and the query extracts typed fields back out
      // with variant_get — proving the read end-to-end on VALUES, not
      // just schema. Shredded variants refuse (DeltaInteropSpec).
      val orders = t(s, dir, "orders")
      val base = tmp("graft-dvar")
      val fsys = new org.apache.hadoop.fs.Path(base).getFileSystem(
        s.sessionState.newHadoopConf())
      orders.selectExpr("o_orderkey",
        "parse_json(to_json(named_struct('cust', o_custkey, " +
          "'status', o_orderstatus, 'price', round(o_totalprice, 2)" +
          "))) AS v")
        .coalesce(1).write.parquet(s"$base/files/f1")
      val part = fsys.listStatus(new org.apache.hadoop.fs.Path(
          s"$base/files/f1"))
        .filter(_.getPath.getName.endsWith(".parquet")).head
      def jstr(x: String) = "\"" +
        x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val schemaJson = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.VariantType))).json
      fsys.mkdirs(new org.apache.hadoop.fs.Path(s"$base/t/_delta_log"))
      graft.lake.LakeTable.writeStringExclusive(fsys,
        new org.apache.hadoop.fs.Path(
          s"$base/t/_delta_log/00000000000000000000.json"),
        Seq(
          """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["variantType"],"writerFeatures":["variantType"]}}""",
          s"""{"metaData":{"id":"var","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schemaJson)},"partitionColumns":[],"configuration":{},"createdTime":1}}""",
          s"""{"add":{"path":${jstr(part.getPath.toUri.toString)},"partitionValues":{},"size":${part.getLen},"modificationTime":1,"dataChange":true}}""")
          .mkString("", "\n", "\n"))
      graft.lake.DeltaImport.scan(s, s"$base/t")
        .selectExpr("o_orderkey",
          "variant_get(v, '$.cust', 'long') AS o_custkey",
          "variant_get(v, '$.status', 'string') AS o_orderstatus",
          "variant_get(v, '$.price', 'double') AS o_totalprice")
    }),

    "q_lake_variant" -> ((s, dir) => {
      // VARIANT as first-class LAKE data (the semi-structured twin of
      // q_lake_vectors): a real VariantType column rides create →
      // append → MERGE upsert (COW rewrite carries the binary
      // through) → predicate DELETE, and the final governed scan
      // extracts typed fields with variant_get. The engine's row-hash
      // and change-compare sites substitute canonical JSON text for
      // variant columns (Spark pins variant unorderable), so
      // maintenance and CDC hold on such tables — LakeVariantSpec
      // drives changelog/compact; this query pins the write semantics
      // against the relational oracle.
      val orders = t(s, dir, "orders")
      val root = tmp("graft-lakevar") + "/t"
      def img(extra: String) =
        "parse_json(to_json(named_struct('status', o_orderstatus, " +
          s"'price', round(o_totalprice, 2)$extra))) AS v"
      val src = orders.selectExpr("o_orderkey", "o_custkey", img(""))
      val lt = LakeTable.create(s, root, src.schema)
      lt.append(src)
      // upsert: every custkey%10==0 row gets a REBUILT variant whose
      // object gained a field the original rows never had — the
      // schema-flexible shape variant exists for
      val upd = orders.where(col("o_custkey") % 10 === 0)
        .selectExpr("o_orderkey", "o_custkey", img(", 'bump', 1"))
      lt.merge(upd, Seq("o_orderkey"))
      lt.delete(col("o_orderkey") % 7 === 0)
      lt.scan().selectExpr("o_orderkey", "o_custkey",
        "variant_get(v, '$.status', 'string') AS status",
        "variant_get(v, '$.price', 'double') AS price",
        "coalesce(variant_get(v, '$.bump', 'int'), 0) AS bumped")
    }),

    "q_delta_row_lineage" -> ((s, dir) => {
      // DELTA ROW TRACKING interop: graft L37 lineage maps onto the
      // rowTracking writer feature VERBATIM (firstRowId ↔ baseRowId,
      // the physically-materialized _row_id column ↔ the spec's
      // materialized row-id column), so a lineage table publishes as
      // an enabled-rowTracking Delta log and the engine-free
      // lineageScan resolves ids by Delta's fresh/materialized rule.
      // The query proves id PRESERVATION end-to-end: an update's COW
      // rewrite keeps ids (materialized wins over base+position), a
      // delete retires them, and every id the foreign read reports
      // equals the id graft's own lineage scan holds for that key.
      val orders = t(s, dir, "orders")
      val base = tmp("graft-dltrt")
      val lt = LakeTable.create(s, s"$base/t", orders.schema,
        properties = Map(LakeTable.PROP_ROW_LINEAGE -> "true"))
      lt.append(orders)
      lt.update(col("o_orderkey") % 10 === 0,
        Map("o_orderstatus" -> lit("X")))
      lt.delete(col("o_orderkey") % 7 === 0)
      graft.lake.DeltaExport.publish(lt, s"$base/delta")
      val foreign = graft.lake.DeltaImport.lineageScan(s, s"$base/delta")
        .select(col("o_orderkey"), col("_row_id").as("did"))
      val own = lt.scanWithLineage()
        .select(col("o_orderkey"), col(LakeTable.ROW_ID_COL).as("rid"))
      foreign.join(own, "o_orderkey").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("did")).as("n_ids"),
        sum(when(col("did") === col("rid"), 1L).otherwise(0L))
          .as("n_agree"))
    }),

    "q_delta_cdf_produce" -> ((s, dir) => {
      // CDF PRODUCTION closes the change-feed loop q_delta_cdf_tail
      // opened: a change-feed-enabled lake table publishes per commit,
      // the update/delete versions carry REAL spec cdc actions
      // (_change_data files derived from graft's own changelog,
      // file actions ignored by precedence), and the independent
      // changeScan consumer reads the full feed back — verified
      // row-for-row against the relational oracle.
      val orders = t(s, dir, "orders")
      val base = tmp("graft-cdfprod")
      val src = orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      val lt = LakeTable.create(s, s"$base/t", src.schema,
        properties = Map(LakeTable.PROP_PUBLISH_CDF -> "true"))
      lt.append(src)
      graft.lake.DeltaExport.publish(lt, s"$base/d") // version 0
      lt.update(col("o_orderkey") % 10 === 0,
        Map("o_orderstatus" -> lit("X")))
      graft.lake.DeltaExport.publish(lt, s"$base/d") // version 1: cdc
      lt.delete(col("o_orderkey") % 7 === 0)
      graft.lake.DeltaExport.publish(lt, s"$base/d") // version 2: cdc
      graft.lake.DeltaImport.changeScan(s, s"$base/d", 0L)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"),
          col("_change_type"), col("_commit_version"))
    }),

    "q_delta_roundtrip" -> ((s, dir) => {
      // DELTA-LOG interop end-to-end under one oracle (the Delta twin
      // of q_iceberg_publish): export version 0 (even orders,
      // identity-partitioned — partitionValues carry the hive dir
      // values since graft never stores them in data files), publish
      // version 1 (odd half, append-only O(delta) commit), a COW
      // delete publishes version 2 with remove actions, checkpoint()
      // folds the log into a spec-shaped parquet + _last_checkpoint.
      // 'final' rows come from the ENGINE-FREE reader's
      // checkpoint-seeded replay; 'v0' rows time-travel via
      // versionAsOf over the same log — both scans reconstruct the
      // partition column from partitionValues, proving the handoff
      // row-exact in both directions of history.
      val orders = t(s, dir, "orders")
      val base = tmp("graft-deltaround")
      val lt = LakeTable.create(s, s"$base/orders", orders.schema,
        partitionBy = Seq("o_orderstatus"))
      lt.append(orders.where(col("o_orderkey") % 2 === 0))
      graft.lake.DeltaExport.export(lt, s"$base/delta")
      lt.append(orders.where(col("o_orderkey") % 2 === 1))
      graft.lake.DeltaExport.publish(lt, s"$base/delta")
      lt.delete(col("o_custkey") % 7 === 3)
      graft.lake.DeltaExport.publish(lt, s"$base/delta")
      graft.lake.DeltaExport.checkpoint(s, s"$base/delta")
      def shape(df: org.apache.spark.sql.DataFrame, src: String) =
        df.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          lit(src).as("src"))
      shape(graft.lake.DeltaImport.scan(s, s"$base/delta"), "final")
        .unionAll(shape(graft.lake.DeltaImport.scan(s, s"$base/delta",
          versionAsOf = Some(0L)), "v0"))
        // incremental mirror consumption: exactly the rows version 1
        // added (the odd half), read from its commit JSON alone
        .unionAll(shape(graft.lake.DeltaImport.incrementalScan(s,
          s"$base/delta", fromVersion = 0L, toVersion = Some(1L)),
          "inc"))
    }),

    "q_delta_column_mapping" -> ((s, dir) => {
      // COLUMN-MAPPED Delta import (reader v2): the real-world shape
      // delta-spark writes since columnMapping became common — files
      // hold opaque PHYSICAL column names, partitionValues are keyed
      // by them, and only the metaData schema's mapping metadata ties
      // them back to logical names. The fixture is a hand-written log
      // over physically-named parquet (the only Delta writer this
      // offline environment has); the engine-free reader must
      // reassemble the LOGICAL table: identity partition column from
      // physical-keyed partitionValues, physical→logical renames on
      // the data columns, and a logical-predicate scanWhere leg.
      val orders = t(s, dir, "orders")
      val base = tmp("graft-deltacm")
      val fsys = new org.apache.hadoop.fs.Path(base).getFileSystem(
        s.sessionState.newHadoopConf())
      def fm(id: Long, phys: String) =
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName", phys).build()
      import org.apache.spark.sql.types._
      val logical = StructType(Seq(
        StructField("o_orderkey", LongType, nullable = true,
          fm(1, "col-1")),
        StructField("o_custkey", LongType, nullable = true,
          fm(2, "col-2")),
        StructField("o_orderstatus", StringType, nullable = true,
          fm(3, "col-3")),
        StructField("o_totalprice", DoubleType, nullable = true,
          fm(4, "col-4"))))
      def jstr(x: String) = "\"" +
        x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val statuses = orders.select("o_orderstatus").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val adds = statuses.map { status =>
        val sub = s"$base/files/$status"
        orders.where(col("o_orderstatus") === status)
          .select(col("o_orderkey").as("col-1"),
            col("o_custkey").as("col-2"),
            col("o_totalprice").as("col-4"))
          .coalesce(1).write.parquet(sub)
        val st0 = fsys.listStatus(new org.apache.hadoop.fs.Path(sub))
          .filter(_.getPath.getName.endsWith(".parquet")).head
        (st0.getPath.toUri.toString, status, st0.getLen)
      }
      val lines = Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"cm","format":{"provider":"parquet","options":{}},"schemaString":${jstr(logical.json)},"partitionColumns":["o_orderstatus"],"configuration":{"delta.columnMapping.mode":"name"},"createdTime":1}}""") ++
        adds.map { case (p, status, size) =>
          s"""{"add":{"path":${jstr(p)},"partitionValues":{"col-3":${jstr(status)}},"size":$size,"modificationTime":1,"dataChange":true}}"""
        }
      fsys.mkdirs(new org.apache.hadoop.fs.Path(s"$base/t/_delta_log"))
      graft.lake.LakeTable.writeStringExclusive(fsys,
        new org.apache.hadoop.fs.Path(
          s"$base/t/_delta_log/00000000000000000000.json"),
        lines.mkString("", "\n", "\n"))
      def shape(df: org.apache.spark.sql.DataFrame, src: String) =
        df.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          lit(src).as("src"))
      shape(graft.lake.DeltaImport.scan(s, s"$base/t"), "all")
        .unionAll(shape(graft.lake.DeltaImport.scanWhere(s, s"$base/t",
          col("o_orderstatus") === "F"), "f"))
    }),

    "q_delta_dv_import" -> ((s, dir) => {
      // Delta DELETION-VECTOR interop end-to-end: a merge-on-read
      // table accumulates position deletes, consolidateDeleteVectors()
      // folds them into L44 bitmap artifacts, export re-encodes them
      // as REAL Delta DVs (spec RoaringBitmapArray .bin + reader-v3
      // protocol + deletionVectors feature), a second delete GROWS the
      // vectors and publish mirrors the growth as the spec's
      // remove+re-add pair, checkpoint() folds the descriptors into
      // the parquet checkpoint — and the ENGINE-FREE importer applies
      // them back through the foreign path (a _metadata.row_index
      // bit-test against the decoded bitmap). 'final' reads the
      // checkpoint-SEEDED replay; 'v0' time-travels below the
      // checkpoint through the JSON replay — both row-exact under the
      // oracle's pure predicate algebra.
      val orders = t(s, dir, "orders")
      val base = tmp("graft-deltadv")
      val lt = LakeTable.create(s, s"$base/orders", orders.schema,
        properties = Map(
          graft.lake.LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
      lt.append(orders)
      lt.delete(col("o_orderkey") % 10 === 3)
      lt.consolidateDeleteVectors()
      graft.lake.DeltaExport.export(lt, s"$base/delta")
      lt.delete(col("o_custkey") % 11 === 4)
      lt.consolidateDeleteVectors()
      graft.lake.DeltaExport.publish(lt, s"$base/delta")
      graft.lake.DeltaExport.checkpoint(s, s"$base/delta")
      def shape(df: org.apache.spark.sql.DataFrame, src: String) =
        df.select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          lit(src).as("src"))
      shape(graft.lake.DeltaImport.scan(s, s"$base/delta"), "final")
        .unionAll(shape(graft.lake.DeltaImport.scan(s, s"$base/delta",
          versionAsOf = Some(0L)), "v0"))
    }),

    "q_iceberg_v3_dv" -> ((s, dir) => {
      // ICEBERG V3 deletion-vector interop end-to-end: a merge-on-read
      // table's consolidated L44 DVs export as a spec-v3 metadata tree
      // whose deletes are PUFFIN deletion-vector-v1 blobs (the shared
      // Delta-compatible frame over the same roaring serialization),
      // manifest entries pinning each blob by referenced_data_file +
      // content_offset/content_size_in_bytes; a second delete GROWS
      // the vectors and publish rewrites the puffin under the same v3
      // history. 'final' reads the grown state through the engine-free
      // importer's puffin path (footer-verified blob type, CRC-checked
      // frame, bitmap bit-test on _metadata.row_index); 'v1'
      // time-travels to the pre-growth snapshot, whose carried
      // manifests still reference the FIRST puffin file.
      val orders = t(s, dir, "orders")
      val base = tmp("graft-icev3dv")
      val lt = LakeTable.create(s, s"$base/orders", orders.schema,
        properties = Map(
          graft.lake.LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
      lt.append(orders)
      lt.delete(col("o_orderkey") % 9 === 5)
      lt.consolidateDeleteVectors()
      val snapV1 = lt.currentSnapshotId.get
      graft.lake.IcebergExport.export(lt, s"$base/ice",
        formatVersion = 3)
      lt.delete(col("o_orderkey") % 8 === 1)
      lt.consolidateDeleteVectors()
      val meta = graft.lake.IcebergExport.publish(lt, s"$base/ice")
      // shape asserts: the tree IS v3 and the deletes ARE puffin DVs
      val tm = graft.lake.IcebergImport.load(meta,
        s.sessionState.newHadoopConf())
      require(tm.deleteEntries.nonEmpty &&
        tm.deleteEntries.forall(d => d.format == "puffin" &&
          d.referencedDataFile.isDefined && d.contentOffset.isDefined),
        "v3 export did not encode deletes as puffin deletion vectors")
      def shape(df: org.apache.spark.sql.DataFrame, src: String) =
        df.select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          lit(src).as("src"))
      shape(graft.lake.IcebergImport.scan(s, meta), "final")
        .unionAll(shape(graft.lake.IcebergImport.scan(s, meta,
          atSnapshot = Some(snapV1)), "v1"))
    }),

    "q_iceberg_v3_variant" -> ((s, dir) => {
      // ICEBERG V3 VARIANT end-to-end: a graft table whose semi-
      // structured column is a REAL VariantType (Spark 4's native
      // Parquet Variant metadata+value group — byte-identical to the
      // v3 spec's storage) exports as a format-version 3 tree
      // declaring the column `variant`, and the engine-free importer
      // reads it back under the declared schema, with typed fields
      // extracted via variant_get — proving the read on VALUES. A v2
      // export of the same table refuses (variant is v3-only), as
      // does v2 METADATA declaring variant (IcebergImportSpec).
      val orders = t(s, dir, "orders")
      val base = tmp("graft-icevar")
      val src = orders.selectExpr("o_orderkey",
        "parse_json(to_json(named_struct('cust', o_custkey, " +
          "'status', o_orderstatus, 'price', round(o_totalprice, 2)" +
          "))) AS v")
      val lt = LakeTable.create(s, s"$base/t", src.schema)
      lt.append(src)
      locally {
        val refused = scala.util.Try(
          graft.lake.IcebergExport.export(lt, s"$base/ice2"))
        require(refused.isFailure && refused.failed.get.getMessage
            .contains("format-version 3"),
          "v2 export of a variant column must refuse by name")
      }
      val meta = graft.lake.IcebergExport.export(lt, s"$base/ice",
        formatVersion = 3)
      graft.lake.IcebergImport.scan(s, meta).selectExpr("o_orderkey",
        "variant_get(v, '$.cust', 'long') AS o_custkey",
        "variant_get(v, '$.status', 'string') AS o_orderstatus",
        "variant_get(v, '$.price', 'double') AS o_totalprice")
    }),

    "q_iceberg_v3_defaults" -> ((s, dir) => {
      // ICEBERG V3 initial-defaults: a foreign v3 table ADDED a
      // required column with an `initial-default` after its data
      // files were written (the mandatory v3 shape — required columns
      // can only be added with a default). The fixture exports the
      // orders table, then rewrites the metadata to v3 with a new
      // required int column `priority` defaulting to 3 — every data
      // file predates it, so the engine-free reader must synthesize
      // the default for every row, including under scanWhere's
      // row-level predicate (the 'hot' leg filters ON the defaulted
      // column, proving filters see the synthesized values).
      val orders = t(s, dir, "orders")
      val base = tmp("graft-icev3def")
      val lt = LakeTable.create(s, s"$base/orders", orders.schema)
      lt.append(orders)
      val meta0 = graft.lake.IcebergExport.export(lt, s"$base/ice")
      val hconf = s.sessionState.newHadoopConf()
      val fsys = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(hconf)
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = m.readTree(graft.lake.LakeTable.readString(fsys,
          new org.apache.hadoop.fs.Path(meta0)))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      node.put("format-version", 3)
      node.path("schemas").elements().next()
        .path("fields").asInstanceOf[
          com.fasterxml.jackson.databind.node.ArrayNode]
        .add(m.readTree("""{"id":999,"name":"priority","required":true,"type":"int","initial-default":3}"""))
      val meta = new org.apache.hadoop.fs.Path(base, "v3-defaults.json")
      graft.lake.LakeTable.writeStringExclusive(fsys, meta,
        m.writeValueAsString(node))
      def shape(df: org.apache.spark.sql.DataFrame, src: String) =
        df.select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          col("priority"), lit(src).as("src"))
      shape(graft.lake.IcebergImport.scan(s, meta.toString), "all")
        .unionAll(shape(graft.lake.IcebergImport.scanWhere(s,
          meta.toString, col("priority") === 3 &&
            col("o_orderkey") % 4 === 0), "hot"))
    }),

    "q_bucketed_join" -> ((s, dir) => {
      // storage-partitioned join: both tables bucketed with Spark's own
      // bucket-id function on their join key, files carrying the
      // _NNNNN bucket suffix — the scans claim a real BucketSpec and
      // the sort-merge join runs with ZERO table-side shuffles
      // (spec-asserted in BucketedJoinSpec; here the result is oracled)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val cust = t(s, dir, "customer").select("c_custkey", "c_name")
      val ltO = LakeTable.create(s, tmp("graft-bjoin") + "/orders",
        orders.schema, partitionBy = Seq("bucket(8, o_custkey)"))
      val ltC = LakeTable.create(s, tmp("graft-bjoin") + "/customer",
        cust.schema, partitionBy = Seq("bucket(8, c_custkey)"))
      ltO.append(orders)
      ltC.append(cust)
      ltO.scan().hint("merge")
        .join(ltC.scan().hint("merge"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
    }),

    "q_table_snapshots" -> ((s, dir) => {
      // `.snapshots` metadata table: commit-delta sizes per snapshot
      val nation = t(s, dir, "nation")
      val root = tmp("graft-snaps") + "/nation"
      val lt = LakeTable.create(s, root, nation.schema)
      lt.append(nation.where(col("n_nationkey") < 10).repartition(1))
      lt.append(nation.where(col("n_nationkey") >= 10).repartition(1))
      lt.overwrite(nation.repartition(1))
      lt.snapshotsTable.select("snapshot_id", "parent_id", "operation",
        "n_added_files", "n_removed_files", "n_live_files")
    }),

    "q_table_partitions" -> ((s, dir) => {
      // `.partitions` metadata table: per-partition file count and
      // sequence range (compaction-debt view)
      val nation = t(s, dir, "nation")
      val root = tmp("graft-parts") + "/nation"
      val lt = LakeTable.create(s, root, nation.schema,
        partitionBy = Seq("n_regionkey"))
      lt.append(nation.repartition(1))
      lt.append(nation.where(col("n_regionkey") < 2).repartition(1))
      // size_bytes is encoding-dependent — project the exact columns
      lt.partitions.select("partition", "file_count", "min_seq",
        "max_seq", "total_rows")
    }),

    "q_table_files" -> ((s, dir) => {
      // `.files` metadata table: per-file partition, sequence, and the
      // recorded bounds the MERGE/DELETE pruning runs against
      val nation = t(s, dir, "nation")
      val root = tmp("graft-files") + "/nation"
      val lt = LakeTable.create(s, root, nation.schema,
        partitionBy = Seq("n_regionkey"))
      lt.append(nation.repartition(1)) // one file per region partition
      lt.files.select(col("partition"), col("seq"), col("record_count"),
        element_at(col("bounds"), "n_nationkey").getField("min")
          .cast("long").as("min_nationkey"),
        element_at(col("bounds"), "n_nationkey").getField("max")
          .cast("long").as("max_nationkey"))
    }),

    "q_compact" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val root = tmp("graft-compact") + "/nation"
      val lt = LakeTable.create(s, root, nation.schema)
      (0 until 3).foreach(i =>
        lt.append(nation.where(col("n_nationkey") % 3 === i)))
      lt.compact()
      lt.scan().select("n_nationkey", "n_name", "n_regionkey")
    }),

    "q_convert_deletes" -> ((s, dir) => {
      // MOR maintenance: two merge eras stack equality-delete files,
      // CALL convert_equality_deletes collapses them to position
      // deletes — afterwards reads pay ONE broadcast anti-join and the
      // relation is still the plain upsert algebra
      val cust = t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val cat = new LakeCatalog(s, tmp("graft-convdel"))
      cat.createNamespace("ns")
      cat.createTable("ns", "cust", cust.schema,
        properties = Map("write.merge.mode" -> "merge-on-read"))
      val lt = cat.loadTable("ns", "cust")
      lt.append(cust)
      lt.merge(cust.where(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", col("c_acctbal") * 2), Seq("c_custkey"))
      lt.merge(cust.where(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000), Seq("c_custkey"))
      cat.sql("ns", "CALL system.convert_equality_deletes('cust')")
      cat.sql("ns",
        """SELECT c_custkey, c_nationkey,
          | round(c_acctbal, 2) AS c_acctbal
          |FROM cust""".stripMargin)
    }),

    "q_binpack" -> ((s, dir) => {
      // size-aware binpack maintenance: 4 small supplier slices
      // coalesce through CALL rewrite_small_files losslessly (the
      // selective survives-untouched half of the contract is
      // BinPackSpec's; write amplification = small-file fraction)
      val supplier = t(s, dir, "supplier")
      val cat = new LakeCatalog(s, tmp("graft-binpack"))
      cat.createNamespace("ns")
      cat.createTable("ns", "sup", supplier.schema)
      val lt = cat.loadTable("ns", "sup")
      (0 until 4).foreach(i =>
        lt.append(supplier.where(col("s_suppkey") % 4 === i).coalesce(1)))
      cat.sql("ns", "CALL system.rewrite_small_files('sup', 1073741824)")
      cat.sql("ns",
        """SELECT s_suppkey, s_nationkey, round(s_acctbal, 2) AS s_acctbal
          |FROM sup""".stripMargin)
    }),

    "q_bloom_merge" -> ((s, dir) => {
      // keyed MERGE on a bloom-filtered table: the ingest's files all
      // span the whole custkey range (hash-split halves), so min/max
      // bounds prune nothing — the per-file blooms do
      // (BloomPruningSpec asserts the file algebra); end state is the
      // plain upsert result
      val customer = t(s, dir, "customer")
      val root = tmp("graft-bloom") + "/t"
      val lt = LakeTable.create(s, root, customer.schema, properties =
        Map(LakeTable.PROP_BLOOM_COLUMNS -> "c_custkey"))
      lt.append(customer.where(xxhash64(col("c_custkey")) % 2 === 0))
      lt.append(customer.where(xxhash64(col("c_custkey")) % 2 =!= 0))
      lt.merge(customer.where(col("c_custkey") % 100 === 0)
        .withColumn("c_acctbal", col("c_acctbal") * 2), Seq("c_custkey"))
      lt.scan().select(col("c_custkey"),
        round(col("c_acctbal"), 2).as("c_acctbal"))
    }),

    "q_zorder_compact" -> ((s, dir) => {
      // OPTIMIZE ... ZORDER BY: compaction range-distributes and sorts
      // by the interleaved (l_partkey, l_suppkey) rank, so the pruned
      // scan on BOTH columns opens a fraction of the files (asserted in
      // ZOrderSpec); content — and this aggregate — is unchanged.
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey",
        "l_suppkey", "l_quantity", "l_extendedprice")
      val root = tmp("graft-zorder") + "/t"
      val lt = LakeTable.create(s, root, li.schema)
      lt.append(li.repartition(8))
      lt.compact(8, Seq("l_partkey", "l_suppkey"))
      lt.scan(col("l_partkey") <= 200 && col("l_suppkey") <= 10)
        .groupBy("l_partkey", "l_suppkey")
        .agg(round(sum("l_quantity"), 2).as("qty"),
          count(lit(1)).as("n"))
    }),

    "q_compact_sortorder" -> ((s, dir) => {
      // sort-order-PRESERVING compaction: four interleaved appends on
      // a write.sort.order table leave files whose l_orderkey ranges
      // overlap ACROSS appends; compact must both keep the content
      // identical (the oracle) and restore DISJOINT per-file bounds
      // (asserted here — the property that keeps merge pruning
      // single-file after maintenance).
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      val root = tmp("graft-sortcompact") + "/t"
      val lt = LakeTable.create(s, root, li.schema,
        properties = Map(LakeTable.PROP_SORT_ORDER -> "l_orderkey"))
      (0 until 4).foreach(i =>
        lt.append(li.where(col("l_orderkey") % 4 === i)))
      lt.compact(targetFilesPerPartition = 4)
      val snap = lt.currentSnapshot.get
      val ranges = snap.entries.values.flatMap(_.stats.get("l_orderkey")
          .map(cs => (cs.min.toLong, cs.max.toLong))).toSeq.sortBy(_._1)
      require(ranges.size == snap.liveFiles.size, "file missing bounds")
      ranges.sliding(2).foreach {
        case Seq((_, aMax), (bMin, _)) =>
          require(aMax < bMin, s"post-compact overlap: $ranges")
        case _ => ()
      }
      lt.scan().groupBy("l_orderkey")
        .agg(round(sum("l_quantity"), 2).as("qty"),
          round(sum("l_extendedprice"), 2).as("rev"),
          count(lit(1)).as("n"))
    }),

    "q_wap_publish" -> ((s, dir) => {
      // write-audit-publish: stage the second half of orders invisibly,
      // audit the parked rows, then publish file-level (zero rewrite —
      // WapSpec asserts the file-set algebra); end state = full orders
      val orders = t(s, dir, "orders")
      val root = tmp("graft-wap") + "/t"
      val lt = LakeTable.create(s, root, orders.schema)
      lt.append(orders.where(col("o_orderkey") % 2 === 0))
      lt.stageAppend(orders.where(col("o_orderkey") % 2 === 1), "nightly")
      // the audit gate: staged rows are checkable before anyone sees them
      require(lt.scanStaged("nightly").where(col("o_orderkey").isNull)
        .count() == 0, "audit failed")
      lt.publishStaged("nightly")
      lt.scan().select(col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_branch_ff" -> ((s, dir) => {
      // staging branches (audit-branch workflow): two audited
      // changesets accumulate on a branch invisibly, a bad branch is
      // discarded whole, then ONE atomic fast-forward commit publishes
      // the series (BranchStagingSpec asserts the single-commit and
      // zero-rewrite algebra)
      val orders = t(s, dir, "orders")
      val root = tmp("graft-branchff") + "/t"
      val slim = orders.select(col("o_orderkey"), col("o_totalprice"))
      val lt = LakeTable.create(s, root, slim.schema)
      lt.append(slim.where(col("o_orderkey") % 3 === 0))
      lt.appendToBranch("audit", slim.where(col("o_orderkey") % 3 === 1))
      lt.appendToBranch("audit",
        slim.where(col("o_orderkey") % 3 === 1).limit(0)) // empty set ok
      lt.appendToBranch("reject", slim.where(col("o_orderkey") % 3 === 2))
      require(lt.scan().count() < lt.scanBranch("audit").count(),
        "branch must be invisible pre-publish")
      lt.discardBranch("reject")
      lt.fastForwardBranch("audit")
      lt.scan().select(col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_metadata_count" -> ((s, dir) => {
      // COUNT(*) answered from manifest record counts alone — zero data
      // I/O, zero Spark jobs (scan-count fallback covered in
      // LakeTableSpec): the health probe every pipeline runs, at
      // 100 TB a metadata lookup instead of a table scan
      val orders = t(s, dir, "orders")
      val root = tmp("graft-metacount") + "/t"
      val lt = LakeTable.create(s, root, orders.schema)
      lt.append(orders.where(col("o_orderkey") % 2 === 0))
      lt.append(orders.where(col("o_orderkey") % 2 === 1))
      import s.implicits._
      Seq(lt.countRows()).toDF("n")
    }),

    // MIN/MAX (+count) answered from manifest bounds alone
    // (ManifestAggRule — the SQL twin of Iceberg DSv2 aggregate
    // pushdown), INCLUDING the double column: FP bounds are provably
    // exact here (non-zero, NaN-free), the case the rule's
    // exactFoldedBounds guard admits. At 100 TB a key-range/freshness
    // probe reads zero data. The metadata plan is asserted in-query:
    // the whole aggregate must fold to a LocalRelation.
    "q_metadata_minmax" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val root = tmp("graft-metaminmax") + "/t"
      val lt = LakeTable.create(s, root, orders.schema)
      lt.append(orders.where(col("o_orderkey") % 2 === 0))
      lt.append(orders.where(col("o_orderkey") % 2 === 1))
      val q = lt.scan().agg(
        min(col("o_orderkey")).as("min_okey"),
        max(col("o_orderkey")).as("max_okey"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderpriority")).as("min_prio"),
        max(col("o_orderpriority")).as("max_prio"),
        min(col("o_orderdate")).as("min_date"),
        max(col("o_orderdate")).as("max_date"),
        count(lit(1)).as("n"))
      require(q.queryExecution.optimizedPlan.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        "metadata min/max must fold to a LocalRelation:\n" +
          q.queryExecution.optimizedPlan.toString)
      q
    }),

    "q_metadata_sum" -> ((s, dir) => {
      // metadata-only SUM (beyond Iceberg's DSv2 pushdown, which never
      // pushes SUM): write.agg.columns records exact per-file integral
      // sums at write; sum(col), avg spelled as sum/count, the GROUPED
      // leg (per identity partition) and the FILTERED leg (partition
      // probe) all fold from the manifest — every plan asserted
      // LocalRelation in-query, zero data I/O at any scale.
      val orders = t(s, dir, "orders")
      val root = tmp("graft-metasum") + "/t"
      val lt = LakeTable.create(s, root, orders.schema,
        partitionBy = Seq("o_orderpriority"),
        properties = Map(
          LakeTable.PROP_AGG_COLUMNS -> "o_orderkey,o_custkey"))
      lt.append(orders.where(col("o_orderkey") % 2 === 0))
      lt.append(orders.where(col("o_orderkey") % 2 === 1))
      def mustFold(q: org.apache.spark.sql.DataFrame) = {
        require(q.queryExecution.optimizedPlan.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
          "metadata SUM must fold to a LocalRelation:\n" +
            q.queryExecution.optimizedPlan.toString)
        q
      }
      val global = mustFold(lt.scan().agg(
        sum(col("o_orderkey")).as("sum_okey"),
        sum(col("o_custkey")).as("sum_ckey"),
        count(col("o_orderkey")).as("n"),
        (sum(col("o_orderkey")) / count(col("o_orderkey")))
          .as("avg_okey")))
        .withColumn("o_orderpriority", lit("ALL"))
      val grouped = mustFold(lt.scan().groupBy("o_orderpriority")
        .agg(sum(col("o_orderkey")).as("sum_okey"),
          sum(col("o_custkey")).as("sum_ckey"),
          count(col("o_orderkey")).as("n"),
          (sum(col("o_orderkey")) / count(col("o_orderkey")))
            .as("avg_okey")))
      val filtered = mustFold(lt.scan()
        .where(col("o_orderpriority") === "1-URGENT")
        .agg(sum(col("o_custkey")).as("sum_ckey")))
      global.unionByName(grouped)
        .unionByName(filtered
          .withColumn("o_orderpriority", lit("URGENT-PROBE"))
          .withColumn("sum_okey", lit(null).cast("long"))
          .withColumn("n", lit(null).cast("long"))
          .withColumn("avg_okey", lit(null).cast("double")),
          allowMissingColumns = false)
    }),

    // FILTERED metadata aggregate (ManifestAggRule's filtered leg): a
    // partition-scoped freshness probe — count/min/max WHERE part = v —
    // folds over exactly the files the manifest PROVES match (identity
    // dir point-stats + zero recorded nulls prove all-match; every
    // dropped file provably holds no match). At 100 TB this answers
    // "how fresh is partition X" with zero data I/O; asserted in-query
    // by the LocalRelation fold.
    "q_metadata_agg_where" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val root = tmp("graft-metaaggwhere") + "/t"
      val lt = LakeTable.create(s, root, orders.schema,
        partitionBy = Seq("o_orderpriority"))
      lt.append(orders)
      val q = lt.scan().where(col("o_orderpriority") === "1-URGENT")
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_okey"),
          max(col("o_orderkey")).as("max_okey"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_orderdate")).as("max_date"),
          // point-valued distinct proof through the filtered leg
          countDistinct(col("o_orderpriority")).as("n_prio"))
      require(q.queryExecution.optimizedPlan.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        "filtered metadata aggregate must fold to a LocalRelation:\n" +
          q.queryExecution.optimizedPlan.toString)
      q
    }),

    // replaceWhere (≡ Delta replaceWhere / Iceberg row-filter
    // overwrite): atomically restate ONE partition — the daily
    // correction write. The delete side is pure metadata on an
    // identity-partitioned table (fully-covered files drop from the
    // manifest driver-side; untouched partitions carry their files),
    // so at 100 TB the swap costs the new batch's write plus zero
    // rewrites. The in-query require pins the untouched partitions'
    // files as CARRIED, not rewritten.
    "q_replace_where" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val root = tmp("graft-replacewhere") + "/t"
      val lt = LakeTable.create(s, root, orders.schema,
        partitionBy = Seq("o_orderpriority"))
      lt.append(orders)
      val before = lt.currentSnapshot.get
      val untouched = before.liveFiles
        .filterNot(_.contains("o_orderpriority=1-URGENT")).toSet
      val restated = orders.where(col("o_orderpriority") === "1-URGENT")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      lt.overwriteWhere(restated,
        col("o_orderpriority") === "1-URGENT")
      val after = lt.currentSnapshot.get
      require(untouched.subsetOf(after.liveFiles.toSet),
        "untouched partitions must carry their files, not rewrite")
      lt.scan().select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    }),

    // dynamic partition overwrite over a TIME transform: the table is
    // hidden-partitioned by month(o_orderdate); the restatement batch's
    // calendar month inverts to an exact o_orderdate source range, so
    // the replaced month drops as metadata and every other month's
    // files carry (asserted in-query) — the monthly-correction write
    // at 100 TB costs the batch, not the table.
    "q_replace_month" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val root = tmp("graft-replacemonth") + "/t"
      val lt = LakeTable.create(s, root, orders.schema,
        partitionBy = Seq("month(o_orderdate)"))
      lt.append(orders)
      val before = lt.currentSnapshot.get
      val restated = orders
        .where(year(col("o_orderdate")) === 1997 &&
          month(col("o_orderdate")) === 3)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      lt.overwritePartitions(restated)
      val after = lt.currentSnapshot.get
      // month value (1997−1970)*12 + (3−1) = 326
      val untouched = before.liveFiles
        .filterNot(_.contains("o_orderdate_month=326")).toSet
      require(untouched.subsetOf(after.liveFiles.toSet),
        "untouched months must carry their files, not rewrite")
      lt.scan().select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    }),

    "q_sql_surface" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val wh = tmp("graft-sql")
      val cat = new LakeCatalog(s, wh)
      cat.createNamespace("ns")
      LakeTable.createOrReplace(s, cat.tablePath("ns", "nation_t"),
        nation)
      cat.sql("ns",
        """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n
          |FROM nation_t GROUP BY n_regionkey""".stripMargin)
    }),

    "q_multi_table_txn" -> ((s, dir) => {
      // catalog-level MULTI-TABLE transaction: the fact table's second
      // half and the summary table derived from the FULL fact table
      // publish atomically — any non-atomic pair of appends would leave
      // a window (and, under a crash, a permanent state) where the
      // summary disagrees with the rows it claims to describe. The
      // oracle certifies the invariant: per-priority row counts seen
      // through the fact table equal the counts the summary recorded.
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val cat = new LakeCatalog(s, tmp("graft-txn"))
      cat.createNamespace("m")
      cat.createTable("m", "orders_t", o.schema)
      cat.loadTable("m", "orders_t")
        .append(o.where(col("o_orderkey") % 2 === 0))
      val summary = o.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_recorded"),
          round(sum(col("o_totalprice")), 2).as("total_recorded"))
      cat.createTable("m", "summary_t", summary.schema)
      cat.transaction("m") { txn =>
        txn.append("orders_t", o.where(col("o_orderkey") % 2 =!= 0))
        txn.append("summary_t", summary)
      }
      cat.recoverTransactions("m") // bootstrap no-op: nothing pending
      cat.loadTable("m", "orders_t").scan()
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .join(cat.loadTable("m", "summary_t").scan(),
          Seq("o_orderpriority"))
    }),

    "q_incremental_mv" -> ((s, dir) => {
      // incrementally-maintained materialized aggregate: the MV target
      // is refreshed from the source's CDC changelog after EVERY
      // mutation (append ×2, COW merge rewrite, predicate delete with
      // full-group retraction) — never recomputed. The oracle is the
      // from-scratch aggregate over the equivalent final state, so a
      // hash match proves exact incremental maintenance. The refresh
      // watermark rides the merge commit itself (no crash window).
      // refreshes are driven through the SQL surface (`CALL
      // system.refresh_mv`) — the definition (source/keys/value) is
      // stamped on the target once and travels with the table; the
      // staleness probe brackets each mutation (stale before, fresh
      // after), all driver arithmetic.
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val base = tmp("graft-mv")
      val cat = new graft.lake.LakeCatalog(s, base)
      cat.createNamespace("mv")
      cat.createTable("mv", "src", o.schema)
      val src = cat.loadTable("mv", "src")
      cat.createTable("mv", "tgt", graft.lake.IncrementalMv
        .targetSchema(src, Seq("o_orderpriority")))
      graft.lake.IncrementalMv.define(cat.loadTable("mv", "tgt"),
        "src", Seq("o_orderpriority"), "o_totalprice")
      def refresh(): Unit =
        cat.sql("mv", "CALL system.refresh_mv('tgt')").collect()
      src.append(o.where(col("o_orderkey") % 2 === 0))
      // one bracketed staleness cycle (stale → refresh → fresh); the
      // exhaustive per-phase probe matrix is q_mv_staleness's job
      assert(cat.sql("mv", "CALL system.mv_staleness('tgt')")
        .select("is_stale").head().getBoolean(0))
      refresh()
      assert(!cat.sql("mv", "CALL system.mv_staleness('tgt')")
        .select("is_stale").head().getBoolean(0))
      src.append(o.where(col("o_orderkey") % 2 =!= 0)); refresh()
      src.merge(o.where(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2),
        Seq("o_orderkey")); refresh()
      src.delete(col("o_orderpriority") === "1-URGENT"); refresh()
      cat.loadTable("mv", "tgt").scan()
        .select(col("o_orderpriority"), col("cnt"),
          round(col("total"), 2).as("total"))
    }),

    "q_scd2_dimension" -> ((s, dir) => {
      // SCD TYPE-2 dimension maintained from the source's CDC
      // changelog: initial load, a COW UPDATE, a predicate DELETE and
      // a late-arrival append each become version rows with
      // [valid_from, valid_to) snapshot intervals — TWO refreshes
      // (one mid-history, exercising the watermark) build the same
      // history a full replay would. Snapshot ids are sequential
      // (create=1, append=2, update=3, delete=4, append=5), so the
      // oracle reconstructs the exact interval table from customer
      // alone. Cost ∝ changed rows: the changelog reads commit deltas,
      // the open-row lookup prunes history files on the materialized
      // _is_current bounds, the merge rewrites only key-affected files.
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        col("c_mktsegment"), round(col("c_acctbal"), 2).as("c_bal"))
      val base = tmp("graft-scd2")
      val src = LakeTable.create(s, s"$base/src", cust.schema)
      val dim = LakeTable.create(s, s"$base/dim",
        graft.lake.ScdDimension.dimensionSchema(cust.schema,
          Seq("c_custkey"), Seq("c_mktsegment", "c_bal")))
      val keys = Seq("c_custkey"); val attrs = Seq("c_mktsegment", "c_bal")
      src.append(cust.where(col("c_custkey") <= 400))            // s2
      graft.lake.ScdDimension.refresh(src, dim, keys, attrs)
      src.update(col("c_custkey") % 7 === 0,
        Map("c_bal" -> round(col("c_bal") + 100, 2)))            // s3
      src.delete(col("c_custkey") % 13 === 0)                    // s4
      src.append(cust.where(col("c_custkey") > 400 &&
        col("c_custkey") <= 500))                                // s5
      graft.lake.ScdDimension.refresh(src, dim, keys, attrs)
      dim.scan().select(col("c_custkey"), col("c_mktsegment"),
        col("c_bal"), col("_valid_from").as("valid_from"),
        col("_valid_to").as("valid_to"),
        col("_is_current").as("is_current"))
    }),

    "q_gold_incremental" -> ((s, dir) => {
      // incremental GOLD layer: the mart never rescans silver — an
      // intermediate (state, category) cube is delta-maintained from
      // silver's CDC changelog (cost ∝ changed rows) and gold derives
      // from the tiny cube. Exercised through append ×2, a COW price
      // update, and a predicate delete; the oracle recomputes the mart
      // from the equivalent final silver state, so a hash match proves
      // the incremental path exact end-to-end (including the
      // count(DISTINCT category) that rides the cube's live keys).
      // orders, not lineitem: the silver contract needs a UNIQUE merge
      // key and the fixture's (l_orderkey, l_linenumber) collides
      val o = t(s, dir, "orders")
      val silverDf = o.select(
        col("o_orderkey").as("invoiceid"),
        col("o_orderpriority").as("category"),
        col("o_orderstatus").as("destinationstate"),
        round(col("o_totalprice"), 2).as("price"),
        (col("o_orderkey") % 5 + 1).cast("double").as("quantity"))
      val base = tmp("graft-gold")
      val cat = new graft.lake.LakeCatalog(s, base)
      cat.createNamespace("m")
      cat.createTable("m", "silver", silverDf.schema)
      val silver = cat.loadTable("m", "silver")
      val job = new graft.pipeline.SilverToGoldJob(s, cat, "m",
        "silver", "gold")
      silver.append(silverDf.where(col("invoiceid") % 2 === 0))
      job.runIncremental()
      silver.append(silverDf.where(col("invoiceid") % 2 =!= 0))
      job.runIncremental()
      silver.merge(silverDf.where(col("invoiceid") % 7 === 0)
        .withColumn("price", col("price") + 1), Seq("invoiceid"))
      silver.delete(col("invoiceid") % 13 === 0)
      job.runIncremental()
      cat.loadTable("m", "gold").scan()
    }),

    // policy-driven maintenance: 4 small appends, then ONE CALL runs
    // the table's declared binpack + expiry + orphan policy — the
    // oracle proves content invariance through the whole pass
    "q_maintain" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val base = tmp("graft-maint")
      val cat = new graft.lake.LakeCatalog(s, base)
      cat.createNamespace("m")
      cat.createTable("m", "t", orders.schema, properties = Map(
        LakeTable.PROP_MAINT_BINPACK_BYTES ->
          (64L * 1024 * 1024).toString,
        LakeTable.PROP_MAINT_EXPIRE_KEEP -> "2",
        LakeTable.PROP_MAINT_ORPHAN_AGE_MS -> "3600000"))
      val lt = cat.loadTable("m", "t")
      (0 until 4).foreach(i =>
        lt.append(orders.where(col("o_orderkey") % 4 === i)))
      cat.sql("m", "CALL system.maintain('t')").collect()
      cat.sql("m", "SELECT o_orderkey, o_custkey, " +
        "round(o_totalprice, 2) AS o_totalprice FROM t")
    }),

    "q_mv_staleness" -> ((s, dir) => {
      // the staleness probe around one refresh cycle — snapshot ids
      // are sequential (create=1, then +1 per commit), so every number
      // below is exact and deterministic: the oracle is a literal
      // VALUES table. pending_commits counts unapplied source commits.
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val base = tmp("graft-mvstale")
      val cat = new graft.lake.LakeCatalog(s, base)
      cat.createNamespace("mv")
      cat.createTable("mv", "src", o.schema)
      val src = cat.loadTable("mv", "src")
      cat.createTable("mv", "tgt", graft.lake.IncrementalMv
        .targetSchema(src, Seq("o_orderpriority")))
      graft.lake.IncrementalMv.define(cat.loadTable("mv", "tgt"),
        "src", Seq("o_orderpriority"), "o_totalprice")
      def probe(phase: String) =
        cat.sql("mv", "CALL system.mv_staleness('tgt')")
          .select(lit(phase).as("phase"), col("source_table"),
            col("applied_source_snapshot"), col("source_head"),
            col("pending_commits"), col("is_stale"))
      src.append(o.where(col("o_orderkey") % 2 === 0)) // snapshot 2
      src.append(o.where(col("o_orderkey") % 2 =!= 0)) // snapshot 3
      val p1 = probe("1_before_refresh")
      cat.sql("mv", "CALL system.refresh_mv('tgt')").collect()
      val p2 = probe("2_after_refresh")
      src.delete(col("o_orderpriority") === "1-URGENT") // snapshot 4
      val p3 = probe("3_after_mutation")
      p1.unionByName(p2).unionByName(p3)
    }),

    "q_incremental_mv_minmax" -> ((s, dir) => {
      // MIN/MAX maintenance — the aggregates that do NOT admit pure
      // delta updates: insert-only refreshes take the least/greatest
      // fast path, refreshes containing retractions recompute extremes
      // for JUST the touched keys (keyed pruned scan). The merge here
      // TRIPLES some prices (mx must rise via recompute) and the
      // delete removes a whole priority class; the oracle recomputes
      // everything from the final state.
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val base = tmp("graft-mvx")
      val src = graft.lake.LakeTable.create(s, s"$base/src", o.schema)
      val tgt = graft.lake.LakeTable.create(s, s"$base/tgt",
        graft.lake.IncrementalMv.extremesSchema(src,
          Seq("o_orderpriority")))
      def refresh(): Unit = graft.lake.IncrementalMv.refreshWithExtremes(
        src, tgt, Seq("o_orderpriority"), "o_totalprice")
      src.append(o.where(col("o_orderkey") % 2 === 0)); refresh()
      src.append(o.where(col("o_orderkey") % 2 =!= 0)); refresh()
      src.merge(o.where(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 3),
        Seq("o_orderkey")); refresh()
      src.delete(col("o_orderpriority") === "5-LOW"); refresh()
      tgt.scan().select(col("o_orderpriority"), col("cnt"),
        round(col("total"), 2).as("total"),
        round(col("mn"), 2).as("mn"), round(col("mx"), 2).as("mx"))
    }),

    "q_stream_mv" -> ((s, dir) => {
      // CONTINUOUS MV maintenance over the change feed: drain once,
      // then commit more (append + merge rewrite) and drain again from
      // a FRESH checkpoint — the rebuilt stream's first batch mixes
      // replayed and new snapshots, and the snapshot-aligned merge
      // watermark must keep the target exactly-once. Oracle = the
      // from-scratch aggregate over the final source state.
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val base = tmp("graft-smv")
      val src = graft.lake.LakeTable.create(s, s"$base/src", o.schema)
      val tgt = graft.lake.LakeTable.create(s, s"$base/tgt",
        graft.lake.IncrementalMv.targetSchema(src,
          Seq("o_orderpriority")))
      def drain(ckpt: String): Unit = graft.lake.IncrementalMv
        .continuous(s, s"$base/src", tgt, Seq("o_orderpriority"),
          "o_totalprice", appId = "qsmv", checkpoint = s"$base/$ckpt")
      src.append(o.where(col("o_orderkey") % 2 === 0))
      drain("ckpt1")
      src.append(o.where(col("o_orderkey") % 2 =!= 0))
      src.merge(o.where(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 3),
        Seq("o_orderkey"))
      drain("ckpt2") // checkpoint loss + new commits
      tgt.scan().select(col("o_orderpriority"), col("cnt"),
        round(col("total"), 2).as("total"))
    }),

    "q_scd2_cdc" -> ((s, dir) => {
      // SCD2 straight from a DMS-shaped CDC batch (Op I/U/D + change
      // timestamp — the reference's raw drop format): the validity
      // domain is the CDC clock itself (_valid_from/_valid_to hold
      // epoch micros of the change ts), no intermediate lake table.
      // One batch carries a key's whole I→U→D life (a %91 key gets
      // two closed versions and no open row) — the shared fold
      // sequences per-key events by ts.
      val o = t(s, dir, "orders").where(col("o_orderkey") <= 400)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice"), 2).as("price"),
          col("o_orderdate"))
      val ins = o.select(lit("I").as("op"),
        col("o_orderdate").cast("timestamp").as("ts"),
        col("o_orderkey"), col("o_orderpriority"), col("price"))
      val upd = o.where(col("o_orderkey") % 7 === 0)
        .select(lit("U").as("op"),
          date_add(col("o_orderdate"), 1).cast("timestamp").as("ts"),
          col("o_orderkey"), col("o_orderpriority"),
          round(col("price") + 100, 2).as("price"))
      val del = o.where(col("o_orderkey") % 13 === 0)
        .select(lit("D").as("op"),
          date_add(col("o_orderdate"), 2).cast("timestamp").as("ts"),
          col("o_orderkey"), col("o_orderpriority"), col("price"))
      val dim = LakeTable.create(s, tmp("graft-scd2cdc") + "/dim",
        graft.lake.ScdDimension.dimensionSchema(
          o.drop("o_orderdate").schema,
          Seq("o_orderkey"), Seq("o_orderpriority", "price")))
      graft.lake.ScdDimension.applyCdcBatch(dim,
        ins.unionByName(upd).unionByName(del),
        Seq("o_orderkey"), Seq("o_orderpriority", "price"), "op", "ts")
      dim.scan().select(col("o_orderkey"), col("o_orderpriority"),
        col("price"), col("_valid_from").as("valid_from"),
        col("_valid_to").as("valid_to"),
        col("_is_current").as("is_current"))
    }),

    "q_stream_scd2" -> ((s, dir) => {
      // CONTINUOUS SCD2 over the change feed, with checkpoint loss:
      // drain the initial load, commit update+delete+late-append, then
      // drain from a FRESH checkpoint — the rebuilt stream's first
      // batch mixes replayed and new snapshots and the snapshot-
      // aligned txn watermark must keep the dimension exactly-once.
      // The dim is merge-on-read (zero-rewrite refreshes); the oracle
      // is the same interval reconstruction as q_scd2_dimension under
      // this commit plan (create=1, append=2, update=3, delete=4,
      // append=5).
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        col("c_mktsegment"), round(col("c_acctbal"), 2).as("c_bal"))
      val base = tmp("graft-sscd2")
      val src = LakeTable.create(s, s"$base/src", cust.schema)
      val dim = LakeTable.create(s, s"$base/dim",
        graft.lake.ScdDimension.dimensionSchema(cust.schema,
          Seq("c_custkey"), Seq("c_mktsegment", "c_bal")),
        properties = Map(
          LakeTable.PROP_MERGE_MODE -> "merge-on-read"))
      val keys = Seq("c_custkey")
      val attrs = Seq("c_mktsegment", "c_bal")
      def drain(ck: String): Unit = graft.lake.ScdDimension
        .continuous(s, s"$base/src", dim, keys, attrs,
          appId = "qsscd2", checkpoint = s"$base/$ck")
      src.append(cust.where(col("c_custkey") <= 300))            // s2
      drain("ck1")
      src.update(col("c_custkey") % 5 === 0,
        Map("c_bal" -> round(col("c_bal") + 50, 2)))             // s3
      src.delete(col("c_custkey") % 11 === 0)                    // s4
      src.append(cust.where(col("c_custkey") > 300 &&
        col("c_custkey") <= 350))                                // s5
      drain("ck2") // checkpoint loss: replayed + new snapshots mix
      dim.scan().select(col("c_custkey"), col("c_mktsegment"),
        col("c_bal"), col("_valid_from").as("valid_from"),
        col("_valid_to").as("valid_to"),
        col("_is_current").as("is_current"))
    }),

    "q_stream_fanout" -> ((s, dir) => {
      // exactly-once streaming FAN-OUT: one micro-batch lands in
      // bronze (raw rows) AND stats (per-type counts) as ONE
      // multi-table transaction keyed <appId>-<batchId> — then the
      // whole stream REPLAYS from a fresh checkpoint and must change
      // nothing (deterministic txn ids + watermarks). The consistency
      // invariant the oracle certifies: recounting bronze per type
      // equals what stats recorded, post-replay.
      import org.apache.spark.sql.types._
      val base = tmp("graft-fanout")
      val cat = new LakeCatalog(s, s"$base/wh")
      cat.createNamespace("ns")
      cat.createTable("ns", "bronze", StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType))))
      cat.createTable("ns", "stats", StructType(Seq(
        StructField("event_type", StringType),
        StructField("n", LongType))))
      val routes: Seq[(String, DataFrame => DataFrame)] = Seq(
        "bronze" -> (b => b.select(col("event_id"), col("event_type"))),
        "stats" -> (b => b.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"))))
      def run(ckpt: String): Unit = StreamingIngest.fanoutExactlyOnce(
        StreamingIngest.eventsStream(s, dir, "events.parquet"),
        cat, "ns", routes, appId = "qfan", checkpoint = s"$base/$ckpt")
      run("ckpt1")
      run("ckpt2") // checkpoint loss: full redelivery, must be a no-op
      cat.loadTable("ns", "bronze").scan()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"))
        .join(cat.loadTable("ns", "stats").scan(), Seq("event_type"))
    }),

    "q_compact_where" -> ((s, dir) => {
      // predicate-scoped compaction: only the URGENT partition's small
      // files coalesce (manifest-pruned selection — the other
      // partitions keep their exact file set, spec-asserted in
      // CompactWhereSpec); content is byte-identical, which is what
      // the oracle certifies
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val root = tmp("graft-cw") + "/orders"
      val lt = LakeTable.create(s, root, orders.schema,
        partitionBy = Seq("o_orderpriority"))
      lt.append(orders.where(col("o_orderkey") % 2 === 0))
      lt.append(orders.where(col("o_orderkey") % 2 === 1))
      lt.compactWhere(col("o_orderpriority") === "1-URGENT")
      lt.scan().select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q_sql_count_pushdown" -> ((s, dir) => {
      // SQL COUNT(*) over a lake view answers from the MANIFEST
      // (ManifestAggRule: zero data I/O, plan-shape-gated —
      // CountRowsSpec asserts no FileSourceScan); the oracle recounts
      // from raw parquet. The WHERE variant beside it takes the normal
      // pruned-scan path in the same statement.
      val lineitem = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val cat = new LakeCatalog(s, tmp("graft-sqlcount"))
      cat.createNamespace("ns")
      cat.createTable("ns", "lineitem_t", lineitem.schema)
      cat.loadTable("ns", "lineitem_t").append(lineitem)
      cat.sql("ns",
        """SELECT (SELECT count(*) FROM lineitem_t) AS total,
          |       count(*) AS high_qty
          |FROM lineitem_t WHERE l_quantity > 40""".stripMargin)
    }),

    "q_sql_views" -> ((s, dir) => {
      // stored SQL views: original text persisted in catalog metadata
      // and LATE-BOUND — the INSERT lands AFTER the view exists and
      // must be visible through it for the numbers to hash-match.
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      val cat = new LakeCatalog(s, tmp("graft-views"))
      cat.createNamespace("ns")
      cat.createTable("ns", "lineitem_t", li.schema)
      cat.loadTable("ns", "lineitem_t").append(li)
      cat.sql("ns",
        """CREATE VIEW r_items AS
          |SELECT l_orderkey, l_quantity FROM lineitem_t
          |WHERE l_returnflag = 'R'""".stripMargin)
      cat.sql("ns", "INSERT INTO lineitem_t VALUES (9999999, 'R', 5.0)")
      cat.sql("ns",
        """SELECT count(*) AS n, round(sum(l_quantity), 2) AS sum_qty,
          |  max(l_orderkey) AS max_key FROM r_items""".stripMargin)
    }),

    "q_sql_constraints" -> ((s, dir) => {
      // CHECK constraints via SQL text: add validates existing data,
      // a violating INSERT aborts before any file commits (the query
      // REQUIRES the rejection), a valid INSERT lands; the returned
      // aggregate proves exactly one row was admitted.
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val cat = new LakeCatalog(s, tmp("graft-ck"))
      cat.createNamespace("ns")
      cat.createTable("ns", "orders_t", orders.schema)
      cat.loadTable("ns", "orders_t").append(orders)
      cat.sql("ns",
        "ALTER TABLE orders_t ADD CONSTRAINT price_pos " +
          "CHECK (o_totalprice > 0)")
      val blocked =
        try {
          cat.sql("ns", "INSERT INTO orders_t VALUES (-1, -5.0, 'X')")
          false
        } catch { case _: IllegalStateException => true }
      require(blocked, "CHECK constraint failed to block the bad insert")
      cat.sql("ns", "INSERT INTO orders_t VALUES (9999999, 123.45, 'O')")
      cat.sql("ns",
        """SELECT count(*) AS n, round(min(o_totalprice), 2) AS min_price,
          |  max(o_orderkey) AS max_key FROM orders_t""".stripMargin)
    }),

    "q_sql_group_by_partition" -> ((s, dir) => {
      // GROUPED metadata aggregate: per-partition profile (count +
      // key bounds) of an identity-partitioned lake table answers
      // entirely from the manifest — every file's rows provably share
      // one partition value, so the fold groups files driver-side
      // (ManifestAggSpec asserts no FileSourceScan; beyond Iceberg's
      // global-only pushdown). Oracle recomputes from raw parquet.
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val cat = new LakeCatalog(s, tmp("graft-grpagg"))
      cat.createNamespace("ns")
      cat.createTable("ns", "orders_t", orders.schema,
        partitionBy = Seq("o_orderstatus"))
      cat.loadTable("ns", "orders_t").append(orders)
      cat.sql("ns",
        """SELECT o_orderstatus, count(*) AS n,
          |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
          |  count(o_totalprice) AS n_price
          |FROM orders_t GROUP BY o_orderstatus""".stripMargin)
    }),

    "q_runtime_filter_join" -> ((s, dir) => {
      // dynamic file pruning for a fact⋈dim join: the fact table's file
      // list shrinks to files that can hold the dim's ACTUAL keys
      // (range bounds on the clustered ingest + per-file Blooms) before
      // Spark plans a single task — RuntimeFilterSpec asserts the file
      // count drops; the oracle is the plain join
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val lt = graft.lake.LakeTable.create(s, tmp("graft-rtf") + "/t",
        li.schema, properties = Map("write.bloom.columns" -> "l_orderkey"))
      lt.append(li.repartitionByRange(8, col("l_orderkey")))
      val dim = t(s, dir, "orders")
        .where(col("o_totalprice") > 400000)
        .select(col("o_orderkey"), col("o_orderpriority"))
      lt.scanForJoin(dim.select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey"))
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
            2).as("revenue"))
    }),

    "q_sql_minmax_pushdown" -> ((s, dir) => {
      // global MIN/MAX (+ count) over a lake view answer from MANIFEST
      // column bounds (ManifestAggRule: zero data I/O at any scale —
      // ManifestAggSpec asserts no FileSourceScan and exercises every
      // fallback gate); the oracle recomputes from raw parquet.
      // Integer + string columns only: fp bounds are pruning-widened
      // on purpose and never answer exact aggregates.
      val lineitem = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_shipdate")
      val cat = new LakeCatalog(s, tmp("graft-minmax"))
      cat.createNamespace("ns")
      cat.createTable("ns", "lineitem_t", lineitem.schema)
      cat.loadTable("ns", "lineitem_t").append(lineitem)
      cat.sql("ns",
        """SELECT count(*) AS n, count(l_quantity) AS n_qty,
          |  min(l_orderkey) AS min_key,
          |  max(l_orderkey) AS max_key, min(l_returnflag) AS min_flag,
          |  max(l_returnflag) AS max_flag,
          |  unix_micros(CAST(min(l_shipdate) AS TIMESTAMP)) AS min_ship_us,
          |  max(l_orderkey) - min(l_orderkey) AS key_span
          |FROM lineitem_t""".stripMargin)
    }),

    "q_analyze_stats" -> ((s, dir) => {
      // ANALYZE TABLE → stats as table properties: num_rows is
      // metadata-exact (manifest row counts, zero data I/O); column
      // ndv/nulls/min/max come from one aggregate pass. The oracle
      // recomputes every value from the raw table.
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val cat = new LakeCatalog(s, tmp("graft-analyze"))
      cat.createNamespace("ns")
      cat.createTable("ns", "orders_t", orders.schema)
      cat.loadTable("ns", "orders_t").append(orders)
      cat.sql("ns",
        "ANALYZE TABLE orders_t COMPUTE STATISTICS FOR COLUMNS " +
          "o_orderkey, o_orderstatus")
      cat.sql("ns", "SHOW TBLPROPERTIES orders_t")
        .where(col("key").startsWith("stats.") &&
          !col("key").isin("stats.size_bytes", "stats.analyzed_snapshot"))
        .select(col("key"), col("value"))
    }),

    "q_sql_merge" -> ((s, dir) => {
      // the reference's literal merge_query text (key invoiceid, dedup
      // window over __temp_table) executed as SQL through the catalog —
      // reference: scripts/bronze-silver.py:213 runs the string,
      // text :254-269. Same end state as q_merge_upsert, via SQL text.
      val orders = t(s, dir, "orders")
      val cat = new LakeCatalog(s, tmp("graft-sqlmerge"))
      cat.createNamespace("ns")
      val target = orders.where(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey").as("invoiceid"), col("o_orderstatus"),
          col("o_totalprice"), lit(0L).as("processed_time"))
      cat.createTable("ns", "silver_orders", target.schema)
      cat.loadTable("ns", "silver_orders").append(target)
      // per-key duplicates: the decoy (processed_time=1, status X,
      // price*3) must LOSE the ROW_NUMBER dedup to the later row
      val upd = orders.where(col("o_orderkey") % 2 === 0)
      upd.select(col("o_orderkey").as("invoiceid"),
          lit("X").as("o_orderstatus"),
          (col("o_totalprice") * 3).as("o_totalprice"),
          lit(1L).as("processed_time"))
        .unionByName(upd.select(col("o_orderkey").as("invoiceid"),
          lit("U").as("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"),
          lit(2L).as("processed_time")))
        .createOrReplaceTempView("__temp_table")
      cat.sql("ns", referenceMergeQuery)
      val out = cat.sql("ns",
        """SELECT invoiceid, o_orderstatus,
          | round(o_totalprice, 2) AS o_totalprice
          |FROM silver_orders""".stripMargin)
      s.catalog.dropTempView("__temp_table")
      out
    }),

    "q_sql_delete" -> ((s, dir) => {
      // DELETE FROM text against a catalog table (same end state as
      // q_cow_delete, reached through the SQL surface)
      val orders = t(s, dir, "orders")
      val cat = new LakeCatalog(s, tmp("graft-sqldel"))
      cat.createNamespace("ns")
      cat.createTable("ns", "orders_t", orders.schema,
        partitionBy = Seq("o_orderpriority"))
      cat.loadTable("ns", "orders_t").append(orders)
      cat.sql("ns", "DELETE FROM orders_t WHERE o_orderstatus = 'F'")
      cat.sql("ns",
        """SELECT o_orderkey, o_orderstatus,
          | round(o_totalprice, 2) AS o_totalprice
          |FROM orders_t""".stripMargin)
    }),

    "q_sql_merge_cdc" -> ((s, dir) => {
      // CDC-shaped MERGE text: matched Op='D' rows delete, matched
      // others update, UNMATCHED rows insert regardless of Op — SQL
      // MERGE semantics (Spark/Iceberg/Delta): the MATCHED-only DELETE
      // clause cannot suppress the NOT MATCHED INSERT. (The skip-insert
      // CDC contract lives on the merge(deleteWhen=…) API.)
      val orders = t(s, dir, "orders")
      val cat = new LakeCatalog(s, tmp("graft-sqlcdc"))
      cat.createNamespace("ns")
      cat.createTable("ns", "orders_t", orders.schema)
      cat.loadTable("ns", "orders_t")
        .append(orders.where(col("o_orderkey") % 3 =!= 0))
      orders.where(col("o_orderkey") % 2 === 0)
        .withColumn("Op",
          when(col("o_orderkey") % 10 === 0, "D").otherwise("U"))
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .createOrReplaceTempView("__cdc_batch")
      cat.sql("ns",
        """MERGE INTO orders_t AS target USING __cdc_batch AS source
          |ON target.o_orderkey = source.o_orderkey
          |WHEN MATCHED AND source.Op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val out = cat.sql("ns",
        """SELECT o_orderkey, o_orderstatus,
          | round(o_totalprice, 2) AS o_totalprice
          |FROM orders_t""".stripMargin)
      s.catalog.dropTempView("__cdc_batch")
      out
    }),

    "q_sql_merge_source" -> ((s, dir) => {
      // full-sync MERGE: WHEN NOT MATCHED BY SOURCE AND <scope> THEN
      // DELETE — a dimension refresh from a nation-7 snapshot in which
      // custkey%3=0 customers no longer exist: they drop, the rest of
      // nation 7 upserts (acctbal*2), other nations are untouched. The
      // scope condition keeps the COW rewrite partition-local.
      val customer = t(s, dir, "customer")
      val cat = new LakeCatalog(s, tmp("graft-sqlsync"))
      cat.createNamespace("ns")
      cat.createTable("ns", "customer_t", customer.schema,
        partitionBy = Seq("c_nationkey"))
      cat.loadTable("ns", "customer_t").append(customer)
      customer.where(col("c_nationkey") === 7 &&
          col("c_custkey") % 3 =!= 0)
        .withColumn("c_acctbal", col("c_acctbal") * 2)
        .createOrReplaceTempView("__sync_src")
      cat.sql("ns",
        """MERGE INTO customer_t AS t USING __sync_src AS s
          |ON t.c_custkey = s.c_custkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE AND t.c_nationkey = 7
          |  THEN DELETE""".stripMargin)
      val out = cat.sql("ns",
        """SELECT c_custkey, c_nationkey,
          | round(c_acctbal, 2) AS c_acctbal
          |FROM customer_t""".stripMargin)
      s.catalog.dropTempView("__sync_src")
      out
    }),

    "q_sql_merge_assignments" -> ((s, dir) => {
      // general MERGE actions — per-clause conditions, explicit SET
      // col = expr and INSERT (cols) VALUES lists, multiple MATCHED
      // clauses first-match-wins: the full Iceberg-Spark MERGE surface
      // beyond the reference's star-only text (bronze-silver.py:265-266)
      val orders = t(s, dir, "orders")
      val cat = new LakeCatalog(s, tmp("graft-sqlmassign"))
      cat.createNamespace("ns")
      val target = orders.where(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      cat.createTable("ns", "inv", target.schema)
      cat.loadTable("ns", "inv").append(target)
      orders.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("__assign_src")
      cat.sql("ns",
        """MERGE INTO inv AS t USING __assign_src AS s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND s.o_totalprice > 150000
          |  THEN UPDATE SET o_orderstatus = 'H',
          |    o_totalprice = s.o_totalprice + 1000
          |WHEN MATCHED THEN UPDATE SET o_orderstatus = 'L'
          |WHEN NOT MATCHED AND s.o_totalprice > 100000
          |  THEN INSERT (o_orderkey, o_orderstatus)
          |    VALUES (s.o_orderkey, 'N')""".stripMargin)
      val out = cat.sql("ns",
        """SELECT o_orderkey, o_orderstatus,
          | round(o_totalprice, 2) AS o_totalprice
          |FROM inv""".stripMargin)
      s.catalog.dropTempView("__assign_src")
      out
    }),

    "q_sql_merge_evolve" -> ((s, dir) => {
      // MERGE WITH SCHEMA EVOLUTION (Spark 4 syntax): source-only
      // columns join the target schema mid-statement (metadata-only
      // adds); pre-existing rows read them as NULL, updated/inserted
      // rows carry the source values
      val orders = t(s, dir, "orders")
      val cat = new LakeCatalog(s, tmp("graft-sqlmevolve"))
      cat.createNamespace("ns")
      val target = orders.where(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      cat.createTable("ns", "inv", target.schema)
      cat.loadTable("ns", "inv").append(target)
      orders.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .createOrReplaceTempView("__evolve_src")
      cat.sql("ns",
        """MERGE WITH SCHEMA EVOLUTION INTO inv AS t
          |USING __evolve_src AS s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val out = cat.sql("ns",
        """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
          | o_orderpriority
          |FROM inv""".stripMargin)
      s.catalog.dropTempView("__evolve_src")
      out
    }),

    "q_sql_delete_subquery" -> ((s, dir) => {
      // subquery DML: DELETE … WHERE k IN (SELECT …) and a correlated
      // UPDATE … WHERE EXISTS — the conditions ride Catalyst's own
      // parsed subquery trees into the lake ops (no SQL-text rewrite)
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val cat = new LakeCatalog(s, tmp("graft-sqldelsub"))
      cat.createNamespace("ns")
      val target = orders.select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      cat.createTable("ns", "ord", target.schema)
      cat.loadTable("ns", "ord").append(target)
      customer.where(col("c_nationkey") < 5).select("c_custkey")
        .createOrReplaceTempView("__low_nat")
      customer.where(col("c_nationkey") >= 20).select("c_custkey")
        .createOrReplaceTempView("__high_nat")
      cat.sql("ns",
        "DELETE FROM ord WHERE o_custkey IN (SELECT c_custkey FROM __low_nat)")
      cat.sql("ns",
        """UPDATE ord SET o_totalprice = cast(0 as double)
          |WHERE EXISTS (SELECT 1 FROM __high_nat h
          |              WHERE h.c_custkey = ord.o_custkey)""".stripMargin)
      val out = cat.sql("ns",
        "SELECT o_orderkey, o_custkey, o_totalprice FROM ord")
      s.catalog.dropTempView("__low_nat")
      s.catalog.dropTempView("__high_nat")
      out
    }),

    "q_sql_alter_widen" -> ((s, dir) => {
      // type-widening schema evolution: create narrow (INT, FLOAT),
      // fill, ALTER COLUMN TYPE to (BIGINT, DOUBLE) — metadata-only,
      // zero rewrite — then insert values only the wide types can hold
      // and read every era back through one wide-typed scan
      val orders = t(s, dir, "orders")
      val cat = new LakeCatalog(s, tmp("graft-sqlwiden"))
      cat.createNamespace("ns")
      cat.sql("ns", "CREATE TABLE w (o_orderkey INT, o_totalprice FLOAT)")
      orders.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").cast("int").as("o_orderkey"),
          col("o_totalprice").cast("float").as("o_totalprice"))
        .createOrReplaceTempView("__widen_src_a")
      cat.sql("ns", "INSERT INTO w SELECT * FROM __widen_src_a")
      cat.sql("ns", "ALTER TABLE w ALTER COLUMN o_orderkey TYPE BIGINT")
      cat.sql("ns", "ALTER TABLE w ALTER COLUMN o_totalprice TYPE DOUBLE")
      orders.where(col("o_orderkey") % 2 === 1)
        .select((col("o_orderkey") + lit(10000000000L)).as("o_orderkey"),
          col("o_totalprice"))
        .createOrReplaceTempView("__widen_src_b")
      cat.sql("ns", "INSERT INTO w SELECT * FROM __widen_src_b")
      // raw values on purpose: the narrow era reads back as the EXACT
      // double widening of the float it stored (no rounding fudge)
      val out = cat.sql("ns", "SELECT o_orderkey, o_totalprice FROM w")
      s.catalog.dropTempView("__widen_src_a")
      s.catalog.dropTempView("__widen_src_b")
      out
    }),

    "q_sql_insert" -> ((s, dir) => {
      // INSERT INTO text: two appends through the SQL surface rebuild
      // the full orders table
      val orders = t(s, dir, "orders")
      val cat = new LakeCatalog(s, tmp("graft-sqlins"))
      cat.createNamespace("ns")
      cat.createTable("ns", "orders_t", orders.schema)
      orders.createOrReplaceTempView("__orders_src")
      cat.sql("ns",
        "INSERT INTO orders_t SELECT * FROM __orders_src WHERE o_orderkey % 2 = 0")
      cat.sql("ns",
        "INSERT INTO orders_t SELECT * FROM __orders_src WHERE o_orderkey % 2 = 1")
      val out = cat.sql("ns",
        """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
          |FROM orders_t""".stripMargin)
      s.catalog.dropTempView("__orders_src")
      out
    }),

    "q_sql_time_travel" -> ((s, dir) => {
      // VERSION AS OF spelled in SQL text (same result as q_time_travel)
      val orders = t(s, dir, "orders")
      val cut = to_timestamp(lit("1998-01-01"), "yyyy-MM-dd")
      val cat = new LakeCatalog(s, tmp("graft-sqltt"))
      cat.createNamespace("ns")
      cat.createTable("ns", "orders_t", orders.schema)
      val lt = cat.loadTable("ns", "orders_t")
      val s1 = lt.append(orders.where(col("o_orderdate") < cut))
      lt.append(orders.where(col("o_orderdate") >= cut))
      cat.sql("ns",
        s"""SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
           |FROM orders_t VERSION AS OF $s1""".stripMargin)
    }),

    "q_cdc_replay" -> ((s, dir) => {
      // the silver-layer semantics at volume: replay events as a keyed
      // CDC stream in three chronological batches — dedup each batch to
      // the latest row per user, MERGE into the table; the end state
      // must equal one global latest-per-user query (idempotent upsert
      // law the reference's bronze->silver step relies on)
      val e = events(s, dir).select(
        col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"), col("ts_us"))
      val cuts = e.agg(
        expr("percentile_approx(ts_us, 0.33, 10000)"),
        expr("percentile_approx(ts_us, 0.66, 10000)")).collect()(0)
      val (c1, c2) = (cuts.getLong(0), cuts.getLong(1))
      val root = tmp("graft-cdc") + "/state"
      val lt = LakeTable.create(s, root, e.schema)
      Seq(
        e.where(col("ts_us") <= c1),
        e.where(col("ts_us") > c1 && col("ts_us") <= c2),
        e.where(col("ts_us") > c2)
      ).foreach { batch =>
        lt.merge(Dedup.latestPerKey(batch, Seq("user_id"),
          Seq(col("ts_us"), col("event_id"))), Seq("user_id"))
      }
      lt.scan()
    }),

    // ---- reference parity: the full medallion pipeline (golden fixture)
    "q_medallion_pipeline" -> ((s, _) => {
      val base = tmp("graft-medallion")
      val rawDir = s"$base/raw"
      val cat = new LakeCatalog(s, s"$base/warehouse")
      val runner = new PipelineRunner(s, cat, rawDir, s"$base/ckpt")
      GoldenFixture.land(GoldenFixture.Inserts, rawDir)
      runner.runOnce()
      // no sleep needed: same-mtime-tick drops are disambiguated by the
      // checkpoint's boundary file names
      GoldenFixture.land(GoldenFixture.Updates, rawDir)
      runner.runOnce()
      cat.loadTable("example_namespace", "silver_orders").scan()
        .select(col("invoiceid"), col("itemid"), col("category"),
          round(col("price"), 2).as("price"), col("quantity"),
          col("orderdate").cast("string").as("orderdate"),
          col("destinationstate"), col("shippingtype"), col("referral"))
    }),

    "q_gold_mart" -> ((s, _) => {
      // full medallion incl. the gold aggregate layer on the fixture —
      // expressed as PURE DDL: one CREATE MATERIALIZED VIEW whose AVG
      // and COUNT(DISTINCT …) lower onto the maintained cube (hidden
      // sums + a category cube key; the registered view derives), kept
      // fresh by CALL system.refresh_mv. Same mart SilverToGoldJob
      // computes, now reachable by SQL-only users.
      val base = tmp("graft-gold")
      val rawDir = s"$base/raw"
      GoldenFixture.land(GoldenFixture.Inserts, rawDir)
      val cat = new LakeCatalog(s, s"$base/warehouse")
      val runner = new PipelineRunner(s, cat, rawDir, s"$base/ckpt")
      runner.runOnce()
      cat.sql("example_namespace",
        """CREATE MATERIALIZED VIEW gold_mart AS
          |SELECT destinationstate, count(*) AS n_orders,
          |  sum(price * quantity) AS revenue,
          |  avg(price) AS avg_price,
          |  count(DISTINCT category) AS n_categories
          |FROM silver_orders
          |GROUP BY destinationstate""".stripMargin)
      // a second drop lands, silver merges it, refresh_mv catches up —
      // the incremental loop a production mart runs on
      GoldenFixture.land(GoldenFixture.Updates, rawDir)
      runner.runOnce()
      cat.sql("example_namespace", "CALL system.refresh_mv('gold_mart')")
      cat.sql("example_namespace",
        "SELECT destinationstate, n_orders, " +
          "round(revenue, 2) AS revenue, " +
          "round(avg_price, 2) AS avg_price, n_categories " +
          "FROM gold_mart")
    }),

    // ---- streaming
    "q_stream_agg" -> ((s, dir) =>
      StreamingIngest.availableNowAggregate(s, dir)),

    "q_stream_lake_tail" -> ((s, dir) =>
      StreamingIngest.lakeTailAggregate(s, dir)),

    "q_stream_delta_tail" -> ((s, dir) => {
      // stream a FOREIGN Delta log into a governed lake table:
      // format("delta-tail") offsets are Delta versions, each batch is
      // the incremental version-range read, and the graft-lake sink's
      // txnAppId makes delivery exactly-once. Two drains bracket a
      // publish (the second resumes from the checkpointed version);
      // the oracle is the full source state replicated.
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
      val base = tmp("graft-dtail")
      val src = LakeTable.create(s, s"$base/src", orders.schema)
      src.append(orders.where(col("o_orderkey") % 2 === 0))
      graft.lake.DeltaExport.export(src, s"$base/delta")
      val dst = LakeTable.create(s, s"$base/dst", orders.schema)
      def drain(): Unit = {
        val q = s.readStream.format("delta-tail").load(s"$base/delta")
          .writeStream.format("graft-lake")
          .option("path", s"$base/dst")
          .option("txnAppId", "q-dtail")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain()
      src.append(orders.where(col("o_orderkey") % 2 === 1))
      graft.lake.DeltaExport.publish(src, s"$base/delta")
      drain()
      dst.scan()
    }),

    "q_delta_cdf_tail" -> ((s, dir) => {
      // FOREIGN Delta CHANGE-DATA-FEED consumption: a hand-written
      // MERGE-heavy-shaped log (the only CDF writer this offline
      // environment has) whose v1 carries the spec's `cdc` actions —
      // update pre/post-images and deletes in a `_change_data` parquet
      // — ALONGSIDE decoy dataChange file actions the CDF read must
      // ignore (the precedence rule: counting both double-reports);
      // v2 is a plain append whose insert rows SYNTHESIZE from the add
      // action. format("delta-tail") with readChangeFeed=true streams
      // the feed rate-limited (1 version/trigger) into a governed lake
      // sink exactly-once; the oracle reconstructs every change row by
      // predicate algebra. A decoy leak would surface as the whole
      // base file re-reported as deletes — hash-fatal.
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
      val base = tmp("graft-cdftail")
      val fsys = new org.apache.hadoop.fs.Path(base).getFileSystem(
        s.sessionState.newHadoopConf())
      def onePart(dirP: String,
          df: org.apache.spark.sql.DataFrame): (String, Long) = {
        df.coalesce(1).write.parquet(dirP)
        val st0 = fsys.listStatus(new org.apache.hadoop.fs.Path(dirP))
          .filter(_.getPath.getName.endsWith(".parquet")).head
        (st0.getPath.toUri.toString, st0.getLen)
      }
      val (f0, s0) = onePart(s"$base/files/f0", orders)
      val updated = orders.where(col("o_orderkey") % 13 === 1)
      val cdc = updated.withColumn("_change_type", lit("update_preimage"))
        .unionAll(updated
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("_change_type", lit("update_postimage")))
        .unionAll(orders.where(col("o_orderkey") % 17 === 2 &&
            col("o_orderkey") % 13 =!= 1)
          .withColumn("_change_type", lit("delete")))
      val (c1, cs1) = onePart(s"$base/t/_change_data/c1", cdc)
      val (f2, s2) = onePart(s"$base/files/f2",
        orders.where(col("o_orderkey") % 19 === 3)
          .withColumn("o_totalprice", col("o_totalprice") + 1))
      def jstr(x: String) = "\"" +
        x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val schemaStr = jstr(orders.schema.json)
      val logDir = s"$base/t/_delta_log"
      fsys.mkdirs(new org.apache.hadoop.fs.Path(logDir))
      def writeV(v: Long, lines: Seq[String]): Unit =
        graft.lake.LakeTable.writeStringExclusive(fsys,
          new org.apache.hadoop.fs.Path(logDir, f"$v%020d.json"),
          lines.mkString("", "\n", "\n"))
      writeV(0L, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
        s"""{"metaData":{"id":"cdf","format":{"provider":"parquet","options":{}},"schemaString":$schemaStr,"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":1}}""",
        s"""{"add":{"path":${jstr(f0)},"partitionValues":{},"size":$s0,"modificationTime":1,"dataChange":true}}"""))
      writeV(1L, Seq(
        s"""{"cdc":{"path":${jstr(c1)},"partitionValues":{},"size":$cs1,"dataChange":false}}""",
        s"""{"remove":{"path":${jstr(f0)},"deletionTimestamp":1,"dataChange":true}}""",
        s"""{"add":{"path":${jstr(f0)},"partitionValues":{},"size":$s0,"modificationTime":1,"dataChange":true}}"""))
      writeV(2L, Seq(
        s"""{"add":{"path":${jstr(f2)},"partitionValues":{},"size":$s2,"modificationTime":1,"dataChange":true}}"""))
      val sinkSchema = org.apache.spark.sql.types.StructType(
        orders.schema.fields ++ Seq(
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType)))
      val dst = LakeTable.create(s, s"$base/dst", sinkSchema)
      val q = s.readStream.format("delta-tail")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .load(s"$base/t")
        .writeStream.format("graft-lake")
        .option("path", s"$base/dst")
        .option("txnAppId", "q-cdf-tail")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      dst.scan()
    }),

    "q_stream_sessions" -> ((s, dir) =>
      StreamingSessionize.run(s, dir, 1800)
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))),

    "q_stream_enrich" -> ((s, dir) => {
      // stream-static enrichment against a lake dim: every micro-batch
      // joins the dim's CURRENT snapshot (foreachBatch re-scan — the
      // SCD-lookup shape; StreamingSpec proves a mid-stream dim update
      // is visible to the next batch); here the dim is fixed so the
      // result equals the batch join the oracle computes
      import s.implicits._
      val base = tmp("graft-enrich")
      val dim = graft.lake.LakeTable.create(s, s"$base/dim",
        (0L to 9L).map(i => (i, s"seg_$i")).toDF("seg", "label").schema)
      dim.append((0L to 9L).map(i => (i, s"seg_$i")).toDF("seg", "label"))
      StreamingIngest.enrichWithLakeDim(s, dir, dim,
          col("user_id") % 10, "seg", s"$base/out")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
    }),

    "q_stream_sessions_timeout" -> ((s, dir) =>
      // timeout-emitting sessionizer: gap-closed sessions PLUS idle
      // final sessions whose end + gap fell behind the final watermark
      // (max event − 1h) — the continuous-deployment contract where
      // every session eventually emits (StreamingSpec proves the
      // timeout path emits strictly more than the gap-only path)
      StreamingSessionize.runWithTimeout(s, dir, 1800,
        watermarkDelay = "1 hour")
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))),

    "q_stream_window" -> ((s, dir) =>
      StreamingIngest.windowedCounts(s, dir,
        windowDuration = "1 hour", watermarkDelay = "1 hour")),

    "q_stream_dedup" -> ((s, dir) =>
      StreamingIngest.streamingDedup(s, dir)),

    "q_stream_interval_join" -> ((s, dir) =>
      StreamingIngest.intervalJoin(s, dir, windowSeconds = 900)),

    "q_stream_upsert" -> ((s, dir) =>
      StreamingIngest.streamingUpsert(s, dir)),

    // streaming partition restatement: each micro-batch dynamically
    // overwrites exactly the identity partitions it carries
    // (sink option overwritePartitions=true, exactly-once via the txn
    // watermark) — the q_replace_where semantics delivered by a stream
    "q_stream_restate" -> ((s, dir) =>
      StreamingIngest.streamingRestate(s, dir)),

    "q_asof_join" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_us"), round(col("value"), 2).as("value"))
      val clicks = e.where(col("event_type") === "click")
        .drop("event_type")
      val purchases = e.where(col("event_type") === "purchase")
        .drop("event_type")
      AsOfJoin.join(clicks, purchases, Seq("user_id"),
        "ts_us", "ts_us", Seq("value", "ts_us"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("asof_value"), col("asof_ts_us"))
    }),

    "q_asof_tolerance" -> ((s, dir) => {
      // as-of with a max-lookback window (≡ pandas merge_asof
      // tolerance): a purchase older than 10 min before the click
      // attaches as NULL
      val e = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_us"), round(col("value"), 2).as("value"))
      val clicks = e.where(col("event_type") === "click")
        .drop("event_type")
      val purchases = e.where(col("event_type") === "purchase")
        .drop("event_type")
      AsOfJoin.join(clicks, purchases, Seq("user_id"),
        "ts_us", "ts_us", Seq("value", "ts_us"),
        tolerance = Some(600000000L))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("asof_value"), col("asof_ts_us"))
    }),

    "q_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      SaltedJoin.join(li, o, Seq("l_orderkey"), saltFactor = 8)
        .groupBy("o_orderpriority")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
    }),

    "q_sessionize" -> ((s, dir) =>
      Sessionize.byGap(events(s, dir), "user_id", col("ts_us"),
        "value", 1800)
        .select("user_id", "session_no", "n_events", "session_start_us",
          "session_end_us", "total_value", "duration_s")),

    // windowed view→click→purchase funnel, earliest-completion greedy
    // matching, 7-day completion window
    "q_funnel" -> ((s, dir) =>
      Funnel.funnel(events(s, dir), Seq("view", "click", "purchase"),
        col("ts_us"), maxSpan = 7L * 86400L * 1000000L)),

    // time-to-convert distribution over COMPLETED funnel chains:
    // count + exact interpolated p50/p90 + mean of (purchase − view)
    "q_funnel_timing" -> ((s, dir) => {
      val chain = Funnel.userFunnel(events(s, dir),
        Seq("view", "click", "purchase"), col("ts_us"),
        maxSpan = 7L * 86400L * 1000000L)
      chain.where(col("__t3").isNotNull)
        .select(((col("__t3") - col("__t1")) / 1000000.0).as("__s"))
        .agg(count(lit(1)).as("n_converted"),
          round(expr("percentile(__s, 0.5)"), 2).as("p50_s"),
          round(expr("percentile(__s, 0.9)"), 2).as("p90_s"),
          round(avg(col("__s")), 2).as("avg_s"))
    }),

    // weekly cohort retention, weeks anchored at 2024-01-01 (anchored
    // periods — no engine-specific week-start rules)
    "q_cohort_retention" -> ((s, dir) =>
      Funnel.cohortRetention(events(s, dir), col("ts_us"),
        anchor = 1704067200000000L, periodLen = 7L * 86400L * 1000000L)),

    // CUBE: all four grouping sets in one pass (completes the
    // grouping-sets family beside q_rollup's hierarchy)
    "q_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))),

    // explicit GROUPING SETS: two independent profiles in one pass —
    // neither rollup's hierarchy nor cube's powerset
    "q_grouping_sets" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus"))),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))),

    "q_set_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.where(col("o_totalprice") > 150000).select("o_orderkey")
        .intersect(
          o.where(col("o_orderpriority") === "1-URGENT")
            .select("o_orderkey"))
    }),

    // RANGE window frame (value-based, not row-based): each event's
    // trailing-hour spend per user — peers at equal ts all join the
    // frame, so the result is order-independent by construction
    "q_window_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0L)
      events(s, dir).select(col("user_id"), col("event_id"),
        col("ts_us"),
        round(sum(col("value")).over(w), 2).as("hour_spend"))
    }),

    // ntile quartiles over per-user spend (deterministic rounded-total
    // ordering so both engines bucket identically)
    "q_ntile_quartiles" -> ((s, dir) => {
      val totals = events(s, dir).groupBy(col("user_id"))
        .agg(round(sum(col("value")), 2).as("total"))
      val w = Window.orderBy(col("total").desc, col("user_id").asc)
      totals.select(col("user_id"), col("total"),
        ntile(4).over(w).as("quartile"))
    }),

    // statistical aggregate family: avg/variance/stddev/corr per type
    // (corr over a well-conditioned pair — both engines' streaming
    // co-moment formulations agree to far beyond 4 decimals)
    "q_stat_aggs" -> ((s, dir) =>
      events(s, dir)
        .withColumn("__x", pmod(col("event_id"), lit(97)).cast("double"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("value")), 4).as("avg_value"),
          round(var_samp(col("value")), 4).as("var_value"),
          round(stddev_samp(col("value")), 4).as("sd_value"),
          round(corr(col("value"), col("__x")), 4).as("corr_vx"))),

    // hourly resample with GAP FILLING: every (hour, type) cell in the
    // observed range appears, zero-filled — the dense grid downstream
    // time-series models expect. The grid is sequence+explode over a
    // 1-row bounds agg crossed with the distinct types (both tiny)
    "q_resample_gapfill" -> ((s, dir) => {
      val e = events(s, dir).select(
        floor(col("ts_us") / 3600000000L).cast("long").as("hr"),
        col("event_type"))
      val counts = e.groupBy(col("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val hours = e.agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
        .select(explode(sequence(col("mn"), col("mx"))).as("hr"))
      val types = e.select(col("event_type")).distinct()
      hours.crossJoin(types)
        .join(counts, Seq("hr", "event_type"), "left")
        .select(col("hr").as("hour"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n_events"))
    }),

    // rolling z-score anomaly detection: each event scored against its
    // user's previous 20 events (≥10 required) — row membership is an
    // INTEGER condition, so only the rounded score carries fp noise.
    // Per-user window partitions only; at scale this is the sessionize
    // shuffle shape (shuffle by user, sort by time within)
    "q_anomaly_zscore" -> ((s, dir) => {
      // (ts, event_id) ordering — no reliance on timestamp uniqueness
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(-20, -1)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("value"),
          avg(col("value")).over(w).as("__mu"),
          stddev_samp(col("value")).over(w).as("__sd"),
          count(lit(1)).over(w).as("__n"))
        .where(col("__n") >= 10 && col("__sd") > 0)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          round((col("value") - col("__mu")) / col("__sd"), 4).as("z"))
    }),

    // hourly OHLC bars per event type: open/close picked by a
    // deterministic (ts, event_id) row_number — no reliance on
    // timestamp uniqueness. One grouped agg after a per-(hour,type)
    // window; both keyed on the same columns, one shuffle reused
    "q_ohlc_bars" -> ((s, dir) => {
      val hr = floor(col("ts_us") / 3600000000L).cast("long").as("hour")
      val e = events(s, dir).select(hr, col("event_type"),
        col("ts_us"), col("event_id"), col("value"))
      val wAsc = Window.partitionBy(col("hour"), col("event_type"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val wDesc = Window.partitionBy(col("hour"), col("event_type"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      e.withColumn("__ra", row_number().over(wAsc))
        .withColumn("__rd", row_number().over(wDesc))
        .groupBy(col("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(max(when(col("__ra") === 1, col("value"))), 2).as("open"),
          round(max(col("value")), 2).as("high"),
          round(min(col("value")), 2).as("low"),
          round(max(when(col("__rd") === 1, col("value"))), 2).as("close"),
          round(sum(col("value")), 2).as("total"))
    }),

    // band (range) join WITHOUT an equi key: every error paired with
    // every signup within ±60 s corpus-wide — the binning rewrite
    // (equi-join on band-quantized time, smaller side exploded ±1 bin)
    // replaces Spark's BroadcastNestedLoopJoin with one hash join
    "q_band_join" -> ((s, dir) => {
      val e = events(s, dir)
      val errors = e.where(col("event_type") === "error")
        .select(col("event_id").as("error_id"),
          col("ts_us").as("error_ts"))
      val signups = e.where(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"),
          col("ts_us").as("signup_ts"))
      BandJoin.join(errors, signups, "error_ts", "signup_ts",
        band = 60000000L)
        .select("error_id", "signup_id", "error_ts", "signup_ts")
    }),

    // ---- dedup family
    "q_dedup_exact" -> ((s, dir) =>
      TextDedup.exact(docs(s, dir))),

    // stop-gram guard ARMED (maxDocFreq=100): a single gram shared by
    // 10^5 docs would otherwise create a 10^10-row join group at scale.
    // This corpus's max gram doc-freq is ~25, so the guard prunes
    // nothing here — the oracle mirrors the pruned form exactly
    "q_dedup_ngram_jaccard" -> ((s, dir) =>
      TextDedup.ngramJaccardPairs(docsWithTrigrams(s, dir),
        n = 3, threshold = 0.5, maxDocFreq = Some(100))),

    // asymmetric containment (|A∩B| / min gram count): catches a short
    // doc quoted whole inside a long one — Jaccard ≈ |short|/|long|
    // misses it structurally. Lower threshold than Jaccard: the
    // measure is ≥ Jaccard by construction.
    "q_dedup_containment" -> ((s, dir) =>
      TextDedup.containmentPairs(docsWithTrigrams(s, dir),
        n = 3, threshold = 0.6, maxDocFreq = Some(100))),

    // 64 bands of 2 rows: candidate probability at the 0.5 threshold is
    // 1-(1-0.5^2)^64 ≈ 1-1e-8, so banding recall is total by
    // construction (32 bands of 4 would leave ~13% misses for pairs at
    // exactly 0.5) — which is what makes the exact-pairs oracle a
    // guarantee rather than data luck; precision is exact either way
    // (candidates are verified with the true Jaccard)
    "q_dedup_minhash" -> ((s, dir) =>
      TextDedup.minHashPairs(docs(s, dir),
        k = 128, bands = 64, shingleSize = 3, threshold = 0.5)),

    "q_dedup_simhash" -> ((s, dir) =>
      TextDedup.simHashPairs(docs(s, dir), maxHamming = 3)),

    "q_dedup_incremental" -> ((s, dir) => {
      // production incremental dedup: the historical corpus (doc_id % 3
      // != 0) is represented by a signature INDEX persisted in a lake
      // table; new batches (doc_id % 3 == 0) admit against it — exact
      // digests + LSH candidates + true-Jaccard verification on
      // candidate texts. TWO consecutive batches, split on an id
      // threshold: batch 1 takes the broadcast-hinted fast path (the
      // under-ceiling default); batch 2 admits against the GROWN index
      // through the broadcastBatch=false hash-join fallback (the
      // over-ceiling path a 1 TB ingest needs). Because `dup_of` is the
      // smallest matching id and batch-1 ids all precede batch-2 ids,
      // the two manifests union to exactly the one-shot admission the
      // oracle computes — both physical strategies are hash-checked by
      // one query. bands=64 (r=2) makes LSH recall total at threshold
      // 0.5 (same guarantee q_dedup_minhash relies on).
      import graft.operators.IncrementalDedup
      val d = docs(s, dir)
      val corpus = d.where(col("doc_id") % 3 =!= 0)
      val batch = d.where(col("doc_id") % 3 === 0)
      val cut = batch.agg(max(col("doc_id"))).head.getLong(0) / 2
      val batch1 = batch.where(col("doc_id") <= cut)
      val batch2 = batch.where(col("doc_id") > cut)
      val idx = IncrementalDedup.buildIndex(corpus)
      val t = graft.lake.LakeTable.create(s,
        tmp("graft-dedup-idx") + "/t", idx.schema)
      t.append(idx)
      val m1 = IncrementalDedup.admit(t.scan(), corpus, batch1,
        bands = 64, threshold = 0.5)
      // ALL batch-1 rows join the index (dups too — later batches must
      // see every earlier lower-id doc, novel or not)
      t.append(IncrementalDedup.buildIndex(batch1))
      val m2 = IncrementalDedup.admit(t.scan(),
        corpus.unionByName(batch1), batch2,
        bands = 64, threshold = 0.5, broadcastBatch = false)
      m1.unionByName(m2)
    }),

    // representatives over the EXACT ngram-jaccard pairs (not the
    // hash-seeded simhash pairs) so the transitive-closure output is
    // DuckDB-derivable; simhash pairing stays covered by q_dedup_simhash
    "q_dedup_representatives" -> ((s, dir) => {
      val d = docsWithTrigrams(s, dir)
      TextDedup.keepRepresentatives(d,
        TextDedup.ngramJaccardPairs(d, n = 3, threshold = 0.5,
          maxDocFreq = Some(100)))
        .select("doc_id", "lang", "source")
    }),

    // ---- text analysis
    "q_vocab_stats" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)), // TakeOrdered — no global sort materialization

    "q_token_count" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))),

    "q_lang_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_pred"))),

    "q_quality_score" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        floor(TextFunctions.qualityScore(col("text")) * 10000)
          .cast("long").as("quality_q4"))),

    "q_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        fingerprint(col("text"), 16).as("fp"))),

    // TF-IDF top terms per document: tf is a (doc, term) aggregate, df
    // a vocab-bounded broadcast, the corpus size a 1×1 broadcast —
    // ranking is per-doc window-parallel; nothing shuffles doc bodies.
    // Scores quantized (×10⁴ floor) so cross-engine ln() ulp noise
    // cannot flip ranks; exact ties break on the term.
    "q_tfidf" -> ((s, dir) => {
      val d = docs(s, dir)
      val tf = d.select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = d.agg(count(lit(1)).as("n"))
      tf.join(broadcast(dfq), "term").crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          floor(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0))
            * 10000).cast("long").as("score_q4"))
        .withColumn("rnk", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("score_q4").desc, col("term").asc)))
        .where(col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "score_q4")
    }),

    // Zipf fit of the vocabulary: regr_slope over the top-100 ranked
    // frequencies. The unpartitioned rank window runs on the VOCAB
    // aggregate (bounded, tiny), never the corpus.
    "q_vocab_zipf" -> ((s, dir) => {
      docs(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("n").desc, col("token").asc)))
        // rnk <= 100, not limit(100): limit takes physically-arbitrary
        // rows, the rank predicate IS the deterministic top-100
        .where(col("rnk") <= 100)
        .agg(round(expr("regr_slope(ln(n), ln(rnk))"), 4)
          .as("zipf_slope"), count(lit(1)).as("n_terms"))
    }),

    // RAG-style chunking: overlapping token windows (64 tokens, stride
    // 32) per document — pure per-row array math (tokenize once,
    // sequence + slice), zero shuffles; at 100 TB this is a map-only
    // pass whose output feeds the embedding stage
    "q_chunk_docs" -> ((s, dir) => {
      val w = 64L; val st = 32L
      docs(s, dir)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
        .withColumn("n", size(col("ts")).cast("long"))
        .select(col("doc_id"), col("n"), col("ts"),
          explode(sequence(lit(0L),
            greatest(ceil((col("n") - w) / lit(st.toDouble)).cast("long"),
              lit(0L)))).as("chunk_idx"))
        .withColumn("n_tokens",
          least(lit(w), col("n") - col("chunk_idx") * st))
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          get(col("ts"), (col("chunk_idx") * st).cast("int"))
            .as("first_term"),
          get(col("ts"), (col("chunk_idx") * st + col("n_tokens") - 1)
            .cast("int")).as("last_term"))
    }),

    // Gopher-style repetition/quality signals: per-row array math plus
    // one bounded (doc, token) aggregation
    "q_repetition_metrics" -> ((s, dir) =>
      RepetitionMetrics.compute(docs(s, dir))),

    // benchmark decontamination: docs %20==0 play the eval set; every
    // remaining doc scored by its distinct-trigram overlap with it —
    // 8-byte gram hashes only, benchmark side broadcast
    "q_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Contamination.score(
        d.where(col("doc_id") % 20 =!= 0),
        d.where(col("doc_id") % 20 === 0))
    }),

    // deterministic stratified sampling: downsample dominant languages
    // (en 1/2, zh 1/4), keep the rest — md5-threshold per-row predicate,
    // zero shuffles, identical keep-set on any engine with md5()
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratified(docs(s, dir), "lang",
        Map("en" -> 0.5, "zh" -> 0.25), Seq("doc_id"), salt = "s7")
        .select("doc_id", "lang")),

    // domain-mixture rebalancing: cap src0 at 8% and src1 at 4% of the
    // corpus, keep other domains whole — exact integer threshold math
    // (the oracle derives the SAME data-dependent thresholds in SQL)
    "q_mixture_rebalance" -> ((s, dir) =>
      Mixture.rebalance(docs(s, dir), "source", Seq("doc_id"),
        Map("src0" -> 8, "src1" -> 4))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"))),

    "q_oov_rate" -> ((s, dir) =>
      LexicalQuality.oovRate(docs(s, dir), "doc_id", "text",
        vocabSize = 30)),

    // self-trained unigram LM score (the KenLM-perplexity stand-in):
    // docs of globally rare tokens score low
    "q_unigram_logprob" -> ((s, dir) =>
      LexicalQuality.unigramLogProb(docs(s, dir), "doc_id", "text")),

    // bigram conditional LM + perplexity — the next step toward the
    // CCNet filter: word-salad that passes a unigram filter (common
    // words, weird order) scores low here
    "q_bigram_logprob" -> ((s, dir) =>
      NgramLm.bigramLogProb(docs(s, dir), "doc_id", "text")),

    // DSIR importance weights toward a target-domain sample (src0/src1
    // docs): hashed-unigram bucket distributions, 64 buckets — the
    // data-selection score of arXiv:2302.03169
    "q_dsir_weights" -> ((s, dir) =>
      Dsir.importanceWeights(docs(s, dir),
        docs(s, dir).where(col("source").isin("src0", "src1")),
        "doc_id", "text", nBuckets = 64)),

    // the Gopher rule cascade as an auditable keep/drop + first-
    // failing-rule decision — every signal a ratio of integer counts
    // (bit-identical across engines), every signal map-side
    "q_gopher_filter" -> ((s, dir) =>
      GopherFilter.filter(docs(s, dir))),

    // corpus is PII-free by construction, so the scrub must be the
    // identity — md5(scrubbed) == md5(text) is the per-row proof; the
    // regex semantics themselves are spec-tested on crafted strings
    "q_pii_scrub" -> ((s, dir) =>
      PiiScrub.scrub(docs(s, dir), "text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          col("n_ips"), md5(col("scrubbed")).as("scrubbed_md5"))),

    // token-budget shard packing: distributed prefix-sum (partition-
    // local running totals + broadcast offsets), never a global
    // single-task window
    "q_shard_packing" -> ((s, dir) => {
      val weighted = docs(s, dir).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      ShardPacking.assign(weighted, "n_tokens", "doc_id",
        budget = 5000L, numRangePartitions = 8)
        .select("doc_id", "n_tokens", "shard")
    }),

    "q_data_card" -> ((s, dir) => {
      // the corpus DATA CARD: per-language doc/token counts, exact
      // token-length quantiles, and the exact-duplicate rate — one
      // grouped aggregate pass over per-row codegen'd token counts and
      // digests (the report a training-data team publishes per drop)
      val d = docs(s, dir)
        .withColumn("n_tokens",
          TextFunctions.tokenCount(col("text")).cast("long"))
        .withColumn("h", md5(col("text")))
      d.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        round(avg(col("n_tokens")), 2).as("avg_tokens"),
        round(expr("percentile(n_tokens, 0.5)"), 2).as("p50_tokens"),
        round(expr("percentile(n_tokens, 0.9)"), 2).as("p90_tokens"),
        countDistinct(col("h")).as("n_unique_texts"),
        round(lit(1.0) - countDistinct(col("h")) / count(lit(1)), 4)
          .as("dup_rate"))
    }),

    "q_sequence_pack" -> ((s, dir) =>
      // fixed-length training-sequence packing: the corpus token stream
      // cut into 512-token sequences, long docs splitting across
      // sequences — one (doc, sequence) span row each; global layout
      // via the distributed prefix sum (never a single-task window)
      SequencePacking.pack(docs(s, dir), seqLen = 512,
        numRangePartitions = 8)),

    "q_lake_vectors" -> ((s, dir) => {
      // embeddings as FIRST-CLASS LAKE DATA: array<float> columns ride
      // the full table lifecycle byte-exact — append, COW MERGE
      // rewrite (labels bumped, vectors untouched), predicate DELETE —
      // and exact ANN then runs straight off the manifest-planned lake
      // scan (the 100 TB shape: vectors live in the governed table,
      // not in side files)
      val e = emb(s, dir)
      val tbl = graft.lake.LakeTable.create(s,
        tmp("graft-lakevec") + "/t", e.schema)
      tbl.append(e.where(col("vec_id") % 3 =!= 0))
      tbl.merge(e.where(col("vec_id") % 3 === 0 || col("vec_id") % 5 === 0)
        .withColumn("label", col("label") + 100), Seq("vec_id"))
      tbl.delete(col("vec_id") % 7 === 0)
      val corpus = tbl.scan()
      val queries = corpus.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      SimilaritySearch.bruteForceTopK(corpus, queries, k = 5)
    }),

    // ---- similarity / ANN over embeddings
    "q_cosine_pairs" -> ((s, dir) => {
      val e = emb(s, dir)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, col("id_a") + 1 === col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(cosine(col("va"), col("vb")), 4).as("cos"))
    }),

    "q_ann_bruteforce" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      SimilaritySearch.bruteForceTopK(e, queries, k = 5)
    }),

    "q_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      SimilaritySearch.lshTopK(e, queries, k = 5, nPlanes = 10)
    }),

    "q_ann_int8" -> ((s, dir) => {
      // exact top-k over int8-quantized vectors (4× memory): cosine is
      // scale-invariant so the scoring loop runs on the integer codes;
      // the oracle re-derives the SAME codes (floor(x/scale + 0.5))
      // and ranks with list_cosine_similarity
      val e = emb(s, dir)
      val queries = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      SimilaritySearch.quantizedTopK(e, queries, k = 5)
    }),

    "q_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      SimilaritySearch.ivfTopK(e, queries, k = 5, nCentroids = 16,
        nProbe = 4)
    }),

    "q_ann_recall" -> ((s, dir) => {
      // recall@k — THE tuning metric a production ANN deployment
      // watches: per approximate index, the fraction of the exact
      // brute-force top-k each query recovers. The bruteforce row is
      // the control (recall 1 by construction); hits/(k·n_queries) is
      // a ratio of integer counts, bit-identical cross-engine.
      // the corpus is re-read and the exact top-k re-joined by EVERY
      // method row below (8×) — persist both for the query's lifetime
      // (Bench/Verify clearCache between queries, the family-wide
      // release contract; at scale this is a deliberate, bounded reuse
      // cache: queries × k rows and one corpus pass instead of 8)
      val e = emb(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val k = 5
      val queries = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val nq = queries.count()
      val exact = SimilaritySearch.bruteForceTopK(e, queries, k)
        .select(col("query_id"), col("corpus_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def hitsOf(name: String, approx: DataFrame) =
        approx.select(col("query_id"), col("corpus_id"))
          .join(exact, Seq("query_id", "corpus_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(name).as("method"), col("hits"))
      Seq(
        hitsOf("bruteforce", exact),
        hitsOf("lsh",
          SimilaritySearch.lshTopK(e, queries, k, nPlanes = 10)),
        hitsOf("lsh_multiprobe",
          SimilaritySearch.lshTopK(e, queries, k, nPlanes = 10,
            probeHamming = 1)),
        hitsOf("ivf",
          SimilaritySearch.ivfTopK(e, queries, k, nCentroids = 16,
            nProbe = 4)),
        // the trained row is the tuning loop's payoff: md5-sampled
        // seeds + 2 replayable Lloyd passes (round-6 updates — see
        // trainCentroids), same probe budget as the untrained row
        hitsOf("ivf_trained",
          SimilaritySearch.ivfTopK(e, queries, k, nCentroids = 16,
            nProbe = 4, trainIterations = 2)),
        hitsOf("pq",
          SimilaritySearch.pqTopK(e, queries, k)),
        hitsOf("ivfpq",
          SimilaritySearch.ivfPqTopK(e, queries, k, nCentroids = 16,
            nProbe = 4, nSubspaces = 4, nCodes = 16)),
        hitsOf("int8",
          SimilaritySearch.quantizedTopK(e, queries, k)))
        .reduce(_.unionByName(_))
        .select(col("method"), lit(nq).as("n_queries"), col("hits"),
          round(col("hits") / lit(k * nq), 4).as("recall"))
    }),

    "q_ann_recall_clustered" -> ((s, dir) => {
      // recall@k in the TYPICAL regime: the fixture embeddings are
      // uniform-random (LSH/IVF's near-worst case — q_ann_recall's
      // absolute numbers are floors), so this second recall table runs
      // on a PLANTED-CLUSTER corpus where bucketing methods earn their
      // keep, plus an IVF probe-count sweep (2/4/8) — the
      // probes-vs-recall curve a production deployment tunes against.
      // The corpus is deterministic and integer-valued (cluster-center
      // grid × 2 + md5-derived noise in [-7, 7] — moderate overlap, the
      // realistic regime), so dots and norms are EXACT in both engines
      // and the DuckDB oracle rebuilds the identical corpus from two
      // generate_series — no parquet needed. Expected shape at this
      // separation: lsh ~.54 / multiprobe ~.79 (vs the random fixture's
      // .20/.24 floor) and ivf .94 → 1.0 saturating at probe 4.
      import org.apache.spark.sql.functions.{array_sort => asort}
      val n = 600; val dim = 16; val kC = 8; val k = 5
      val corpus = s.range(0, n).select(col("id").as("vec_id"),
          explode(sequence(lit(0), lit(dim - 1))).as("j"))
        .withColumn("x",
          (((((col("vec_id") % kC) * 37 + col("j") * 13) % 19) - 9) * 2 +
            expr("cast(conv(substring(md5(concat(cast(vec_id as " +
              "string), '_', cast(j as string))), 1, 8), 16, 10) " +
              "as bigint)") % 15 - 7)
          .cast("float"))
        .groupBy("vec_id")
        .agg(transform(asort(collect_list(struct(col("j"), col("x")))),
          st => st.getField("x")).as("embedding"))
        // the generated corpus (shuffle agg + per-element md5) and the
        // exact top-k are re-derived by EVERY method row below —
        // persist both (Bench/Verify clearCache between queries)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val queries = corpus.where(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val nq = queries.count()
      val exact = SimilaritySearch.bruteForceTopK(corpus, queries, k)
        .select(col("query_id"), col("corpus_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def hitsOf(name: String, approx: DataFrame) =
        approx.select(col("query_id"), col("corpus_id"))
          .join(exact, Seq("query_id", "corpus_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(name).as("method"), col("hits"))
      Seq(
        hitsOf("bruteforce", exact),
        hitsOf("lsh",
          SimilaritySearch.lshTopK(corpus, queries, k, nPlanes = 10)),
        hitsOf("lsh_multiprobe",
          SimilaritySearch.lshTopK(corpus, queries, k, nPlanes = 10,
            probeHamming = 1)),
        hitsOf("ivf_probe2",
          SimilaritySearch.ivfTopK(corpus, queries, k, nCentroids = 16,
            nProbe = 2)),
        hitsOf("ivf_probe4",
          SimilaritySearch.ivfTopK(corpus, queries, k, nCentroids = 16,
            nProbe = 4)),
        hitsOf("ivf_probe8",
          SimilaritySearch.ivfTopK(corpus, queries, k, nCentroids = 16,
            nProbe = 8)))
        .reduce(_.unionByName(_))
        .select(col("method"), lit(nq).as("n_queries"), col("hits"),
          round(col("hits") / lit(k * nq), 4).as("recall"))
    }),

    "q_ann_lsh_multiprobe" -> ((s, dir) => {
      // multi-probe LSH: each query also probes the `planes` buckets at
      // hamming distance 1 — recall recovery for near-boundary vectors
      val e = emb(s, dir)
      val queries = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      SimilaritySearch.lshTopK(e, queries, k = 5, nPlanes = 10,
        probeHamming = 1)
    }),

    "q_ann_pq" -> ((s, dir) => {
      // product quantization: corpus compressed to 4 codeword ids per
      // vector (64 floats → 4 bytes), queries score by ADC lookups
      val e = emb(s, dir)
      val queries = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      SimilaritySearch.pqTopK(e, queries, k = 5)
    }),

    "q_ann_ivfpq" -> ((s, dir) => {
      // IVF-PQ (FAISS's IVFADC layout): coarse cells bound WHICH
      // candidates a query pays for, PQ codes bound WHAT each costs
      val e = emb(s, dir)
      val queries = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      SimilaritySearch.ivfPqTopK(e, queries, k = 5, nCentroids = 16,
        nProbe = 4, nSubspaces = 4, nCodes = 16)
    }),

    "q_ann_lake_index" -> ((s, dir) => {
      // ANN index AS LAKE METADATA: the IVF quantizer persists in the
      // table's properties (atomic with the commit, versioned with the
      // data, travels through time travel/branches) and search loads
      // it with one HEAD read — zero training at query time. Same
      // seeded quantizer as q_ann_ivf, so the oracle replays in SQL.
      val e = emb(s, dir)
      val tbl = graft.lake.LakeTable.create(s,
        tmp("graft-vindex") + "/t", e.schema)
      tbl.append(e)
      VectorIndex.build(tbl, nCentroids = 16)
      val queries = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      VectorIndex.searchTopK(tbl, queries, k = 5, nProbe = 4)
    }),

    "q_neardup_embedding" -> ((s, dir) =>
      SimilaritySearch.cosineNearDupPairs(emb(s, dir),
        threshold = 0.25, nPlanes = 6)),

    // SemDeDup: coarse k-means clusters bound the quadratic stage,
    // exact cosine within a cluster, greedy keep-first drop in id order
    "q_semdedup" -> ((s, dir) =>
      SemanticDedup.dedup(emb(s, dir), nCentroids = 16,
        threshold = 0.2)),

    // span-level duplication signal: fraction of each doc's distinct
    // trigrams appearing in ≥1 other doc — no self-join, linear cost
    "q_dup_gram_stats" -> ((s, dir) =>
      TextDedup.duplicatedGramStats(docs(s, dir), n = 2)),

    "q_dedup_substring" -> ((s, dir) => {
      // EXACT-SUBSTRING dedup (ExactSubstr, Lee et al. 2021): per-doc
      // maximal spans of corpus-duplicated 30-char grams + span
      // REMOVAL. clean_len comes from the actual cleaned string
      // (removeSpans fold), while the oracle derives it as
      // length - dup_chars — a hash match proves the span arithmetic
      // AND the removal expression consistent. Wide stages shuffle
      // (hash, pos) only; duplication decided on xxhash64 and
      // re-verified on the gram string within the duplicated subset
      // (collision-exact at any corpus size).
      val d = docs(s, dir)
      val spans = TextDedup.exactSubstringSpans(d, "text", "doc_id", 30)
      d.join(spans, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
          length(TextDedup.removeSpans(col("text"), col("spans")))
            .cast("long").as("clean_len"))
    }),

    // fastText-pattern quality classifier: heuristic labels (lang
    // column = 'en'), multinomial NB trained in one aggregation pass,
    // per-doc log-odds score from broadcast vocabulary weights
    "q_quality_classifier" -> ((s, dir) =>
      QualityClassifier.trainScore(docs(s, dir), col("lang") === "en")),

    // ---- multimodal plumbing (stubbed decode, real schema/batching)
    "q_multimodal_frames" -> ((s, dir) =>
      MediaPipeline.sampleFrames(
        MediaPipeline.resize(
          MediaPipeline.attachFakeMedia(docs(s, dir)), 64, 64),
        maxFrames = 4)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame")).cast("long")).as("total_bytes"))),

    "q_multimodal_features" -> ((s, dir) =>
      // REAL image path: a synthetic 16×8 grayscale PNG per document
      // (row y = (doc_id + y) mod 256) goes through genuine ImageIO
      // encode → decode → banded pixel features, so the oracle's
      // closed-form per-band values certify the decode is exact
      MediaPipeline.extractFeatures(
        MediaPipeline.attachSyntheticPng(docs(s, dir)), dim = 8)
        .select(col("doc_id"), col("width"), col("height"),
          round(element_at(col("features"), 1).cast("double"), 4)
            .as("f0"),
          round(element_at(col("features"), 8).cast("double"), 4)
            .as("f7"))),
    "q_multimodal_audio" -> ((s, dir) =>
      // REAL audio path: a synthetic mono 8-bit PCM WAV per document
      // (time band j = constant sample (doc_id + j) mod 256) goes
      // through genuine WAV encode → javax.sound.sampled decode →
      // banded amplitude features, so the oracle's closed-form
      // per-band values certify the decode is exact
      MediaPipeline.extractFeatures(
        MediaPipeline.attachSyntheticWav(docs(s, dir)), dim = 8)
        .select(col("doc_id"), col("n_bytes"),
          round(element_at(col("features"), 1).cast("double"), 4)
            .as("f0"),
          round(element_at(col("features"), 4).cast("double"), 4)
            .as("f3"),
          round(element_at(col("features"), 8).cast("double"), 4)
            .as("f7")))
  )

  // ------------------------------------------------------------- oracles

  /** The hyperplane constants of
    * [[graft.plans.expressions.HyperplaneSignature]] as a DuckDB VALUES
    * list — generated with the SAME JVM RNG derivation the expression
    * uses, so the oracle buckets vectors with bit-identical planes
    * (Double.toString round-trips exactly through DuckDB's parser). */
  private def planesSqlValues(nPlanes: Int, dim: Int, seed: Long): String =
    (0 until nPlanes).map { p =>
      val rnd = new java.util.Random(seed * 1000003L + p)
      val v = Array.fill(dim)(rnd.nextGaussian())
      s"(${p + 1}, [${v.mkString(",")}]::DOUBLE[])"
    }.mkString(",\n  ")

  /** The q_dedup_simhash oracle, generated: TokenHash64 (polynomial
    * mod-2^64 + xxh64-finalizer avalanche) is pure ring arithmetic, so
    * DuckDB reproduces it exactly with HUGEINT math — `mulmod` splits
    * each 64×64-bit wraparound multiply into 32-bit halves to stay
    * inside HUGEINT. Signature, banding, and hamming verify then mirror
    * simHashPairs. */
  private def simhashOracleSql: String = {
    val M = BigInt(1) << 64
    // powers up to 128 chars — far beyond any [a-z0-9]+ run in the
    // corpora (max observed 8); a longer token would index past the
    // array and make the term NULL, so guard with headroom
    val bPows = (0 until 128).map(e => BigInt(1000003).modPow(BigInt(e), M))
    val pow2 = (0 until 64).map(b => BigInt(1) << b)
    def mulmod(h: String, c: BigInt): String = {
      val c0 = c % (BigInt(1) << 32)
      val c1 = c >> 32
      s"((($h) % 4294967296::HUGEINT) * $c0::HUGEINT" +
        s" + (((($h) % 4294967296::HUGEINT) * $c1::HUGEINT" +
        s" + (($h) // 4294967296::HUGEINT) * $c0::HUGEINT)" +
        " % 4294967296::HUGEINT) * 4294967296::HUGEINT)" +
        " % 18446744073709551616::HUGEINT"
    }
    val p2 = BigInt("C2B2AE3D27D4EB4F", 16)
    val p3 = BigInt("165667B19E3779F9", 16)
    s"""WITH consts AS (
       |  SELECT [${bPows.mkString(",")}]::HUGEINT[] AS bp,
       |         [${pow2.mkString(",")}]::HUGEINT[] AS p2),
       |toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, generate_subscripts(ts, 1) AS ti, unnest(ts) AS t
       |  FROM toks),
       |chars AS (
       |  SELECT doc_id, ti, i, ascii(t[i:i])::HUGEINT AS c, len(t) AS n
       |  FROM tok, unnest(generate_series(1, len(t)::INT)) AS u(i)),
       |h0 AS (
       |  SELECT doc_id, ti,
       |    sum(c * (SELECT bp FROM consts)[(n - i + 1)::INT])
       |      % 18446744073709551616::HUGEINT AS h
       |  FROM chars GROUP BY doc_id, ti),
       |h1 AS (SELECT doc_id, ti, xor(h, h // 8589934592::HUGEINT) AS h
       |       FROM h0),
       |h2 AS (SELECT doc_id, ti, ${mulmod("h", p2)} AS h FROM h1),
       |h3 AS (SELECT doc_id, ti, xor(h, h // 536870912::HUGEINT) AS h
       |       FROM h2),
       |h4 AS (SELECT doc_id, ti, ${mulmod("h", p3)} AS h FROM h3),
       |h5 AS (
       |  SELECT doc_id, ti,
       |    CASE WHEN xor(h, h // 4294967296::HUGEINT)
       |              >= 9223372036854775808::HUGEINT
       |      THEN (xor(h, h // 4294967296::HUGEINT)
       |            - 18446744073709551616::HUGEINT)::BIGINT
       |      ELSE xor(h, h // 4294967296::HUGEINT)::BIGINT END AS hs
       |  FROM h4),
       |bits AS (
       |  SELECT doc_id, b,
       |    CASE WHEN sum(CASE WHEN (hs >> b) & 1 = 1 THEN 1 ELSE -1 END)
       |           > 0
       |      THEN 1::HUGEINT ELSE 0::HUGEINT END AS bit
       |  FROM h5, unnest(generate_series(0, 63)) AS u(b)
       |  GROUP BY doc_id, b),
       |sigs AS (
       |  SELECT doc_id,
       |    CASE WHEN s >= 9223372036854775808::HUGEINT
       |      THEN (s - 18446744073709551616::HUGEINT)::BIGINT
       |      ELSE s::BIGINT END AS sig
       |  FROM (
       |    SELECT doc_id,
       |      sum(bit * (SELECT p2 FROM consts)[(b + 1)::INT]) AS s
       |    FROM bits GROUP BY doc_id)
       |  UNION ALL
       |  SELECT doc_id, 0::BIGINT AS sig
       |  FROM toks WHERE len(ts) = 0),
       |byband AS (
       |  SELECT doc_id, sig, b4 AS band,
       |         (sig >> (b4 * 16)) & 65535 AS band_val
       |  FROM sigs, unnest(generate_series(0, 3)) AS u(b4))
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |FROM byband a JOIN byband b
       |  ON a.band = b.band AND a.band_val = b.band_val
       |  AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin
  }

  /** Shared CTE: per-vector hyperplane bucket (bit p set iff
    * vec · plane_p > 0), mirroring hyperplaneSignature. */
  private def sigsSql(nPlanes: Int): String =
    s"""planes(pi, pl) AS (VALUES
       |  ${planesSqlValues(nPlanes, 64, 42L)}),
       |sigs AS (
       |  SELECT e.vec_id, e.embedding,
       |    CAST(sum(CASE WHEN
       |        list_dot_product(e.embedding::DOUBLE[], p.pl) > 0
       |      THEN 1 << (p.pi - 1) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY e.vec_id, e.embedding)""".stripMargin

  /** DuckDB equivalents (driver runs these on the same parquet tables;
    * hash-compare after sorting columns by name). Queries without an
    * entry (hash-seeded LSH/fingerprint families, streaming-state
    * internals) get the driver's rows-only check. */
  def oracleSql: Map[String, String] = Map(
    "q_count_lineitem" ->
      "SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem",

    "q_project_orders" ->
      "SELECT o_orderkey, o_orderpriority FROM orders",

    "q_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber,
        | round(l_extendedprice, 2) AS l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'""".stripMargin,

    "q_agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_discount), 4) AS avg_disc,
        | CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_revenue_by_nation" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q_broadcast_dim_join" ->
      """SELECT r_name, n_name,
        | CAST(count(*) AS BIGINT) AS n_customers,
        | round(sum(c_acctbal), 2) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_orderpriority, rnk, o_orderkey,
        | round(o_totalprice, 2) AS o_totalprice
        |FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3""".stripMargin,

    "q_anti_semi_join" ->
      """SELECT
        | (SELECT CAST(count(*) AS BIGINT) FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
        |   AS with_orders,
        | (SELECT CAST(count(*) AS BIGINT) FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
        |   AS without_orders""".stripMargin,

    "q_set_except" ->
      """SELECT o_orderkey FROM orders WHERE o_totalprice > 200000
        |EXCEPT
        |SELECT o_orderkey FROM orders
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    "q_pivot" ->
      """SELECT user_id % 10 AS bucket,
        | CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        | CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        | CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        | CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        | CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        |FROM events GROUP BY 1""".stripMargin,

    "q_rollup" ->
      """SELECT n_regionkey, n_name,
        | CAST(count(*) AS BIGINT) AS n_customers,
        | round(sum(c_acctbal), 2) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_regionkey, n_name)""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,

    "q_percentiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.9), 4) AS p90,
        | round(min(value), 2) AS mn, round(max(value), 2) AS mx
        |FROM events GROUP BY event_type""".stripMargin,

    "q_window_dedup_latest" ->
      """SELECT user_id, event_id, event_type,
        | round(value, 2) AS value, epoch_us(ts) AS ts_us
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1""".stripMargin,

    "q_top1_latest_event" ->
      """SELECT event_id, user_id, event_type FROM events
        |ORDER BY epoch_us(ts) DESC, event_id DESC LIMIT 1""".stripMargin,

    "q_incremental_scan" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'""".stripMargin,

    "q_add_files" ->
      """SELECT o_orderkey, o_custkey,
        |  round(o_totalprice, 2) AS o_totalprice
        |FROM orders""".stripMargin,

    "q_row_lineage" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_ids,
        |  CAST(count(*) AS BIGINT) AS n_preserved
        |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin,

    "q_maintain" ->
      """SELECT o_orderkey, o_custkey,
        |  round(o_totalprice, 2) AS o_totalprice
        |FROM orders""".stripMargin,

    "q_cdc_lineage" ->
      """SELECT 'insert' AS change_type,
        |  CAST(count(*) AS BIGINT) AS n FROM orders
        |UNION ALL SELECT 'update_preimage', CAST(count(*) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 10 = 0
        |UNION ALL SELECT 'update_postimage', CAST(count(*) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 10 = 0
        |UNION ALL SELECT 'delete', CAST(count(*) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,

    "q_time_travel" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'""".stripMargin,

    "q_cow_delete" ->
      """SELECT o_orderkey, o_orderstatus,
        | round(o_totalprice, 2) AS o_totalprice
        |FROM orders WHERE o_orderstatus <> 'F'""".stripMargin,

    "q_metadata_delete" ->
      """SELECT o_orderkey, o_orderdate FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'""".stripMargin,

    "q_cow_update" ->
      """SELECT o_orderkey,
        | round(CASE WHEN o_orderpriority = '1-URGENT'
        |   THEN o_totalprice * 2 ELSE o_totalprice END, 2)
        |   AS o_totalprice
        |FROM orders""".stripMargin,

    "q_compact" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    // two merge eras then conversion: %7 wins over %5 on overlap keys
    // (the second merge sourced ORIGINAL balances, so %35 keys end at
    // original + 1000, not doubled + 1000)
    "q_convert_deletes" ->
      """SELECT c_custkey, c_nationkey,
        |  round(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 1000
        |             WHEN c_custkey % 5 = 0 THEN c_acctbal * 2
        |             ELSE c_acctbal END, 2) AS c_acctbal
        |FROM customer""".stripMargin,

    // lossless coalesce: binpack only moves rows between files
    "q_binpack" ->
      """SELECT s_suppkey, s_nationkey, round(s_acctbal, 2) AS s_acctbal
        |FROM supplier""".stripMargin,

    "q_bloom_merge" ->
      """SELECT c_custkey,
        | round(CASE WHEN c_custkey % 100 = 0
        |            THEN c_acctbal * 2 ELSE c_acctbal END, 2)
        |   AS c_acctbal
        |FROM customer""".stripMargin,

    "q_zorder_compact" ->
      """SELECT l_partkey, l_suppkey,
        | round(sum(l_quantity), 2) AS qty,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_partkey <= 200 AND l_suppkey <= 10
        |GROUP BY l_partkey, l_suppkey""".stripMargin,

    "q_metadata_count" ->
      "SELECT CAST(count(*) AS BIGINT) AS n FROM orders",

    "q_metadata_minmax" ->
      """SELECT CAST(min(o_orderkey) AS BIGINT) AS min_okey,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_okey,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  min(o_orderpriority) AS min_prio,
        |  max(o_orderpriority) AS max_prio,
        |  min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders""".stripMargin,

    "q_replace_month" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  round(o_totalprice, 2) AS o_totalprice, o_orderdate,
        |  o_orderpriority
        |FROM orders
        |WHERE NOT (year(o_orderdate) = 1997 AND month(o_orderdate) = 3)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        |  round(o_totalprice * 2, 2) AS o_totalprice, o_orderdate,
        |  o_orderpriority
        |FROM orders
        |WHERE year(o_orderdate) = 1997 AND month(o_orderdate) = 3"""
        .stripMargin,

    "q_stream_restate" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  round(o_totalprice, 2) AS o_totalprice, o_orderdate,
        |  o_orderpriority
        |FROM orders WHERE o_orderpriority <> '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        |  round(o_totalprice * 2, 2) AS o_totalprice, o_orderdate,
        |  o_orderpriority
        |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    "q_replace_where" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  round(o_totalprice, 2) AS o_totalprice, o_orderdate,
        |  o_orderpriority
        |FROM orders WHERE o_orderpriority <> '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        |  round(o_totalprice * 2, 2) AS o_totalprice, o_orderdate,
        |  o_orderpriority
        |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    "q_metadata_agg_where" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_okey,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_okey,
        |  min(o_totalprice) AS min_price,
        |  max(o_orderdate) AS max_date,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio
        |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    "q_wap_publish" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders""".stripMargin,

    // content is invariant under the sort-order-preserving compaction
    // (the disjoint-bounds property is asserted inside the query)
    "q_compact_sortorder" ->
      """SELECT l_orderkey, round(sum(l_quantity), 2) AS qty,
        |  round(sum(l_extendedprice), 2) AS rev,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,

    // published branch (%3∈{0,1}) minus the discarded one (%3=2)
    "q_branch_ff" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders WHERE o_orderkey % 3 <> 2""".stripMargin,

    "q_time_travel_ts" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'""".stripMargin,

    "q_schema_evolution" ->
      """SELECT n_nationkey, n_name AS nation_name, n_regionkey,
        | CASE WHEN n_nationkey >= 10 THEN 'late' END AS flag
        |FROM nation""".stripMargin,

    "q_default_column" ->
      """SELECT n_nationkey, n_name, n_regionkey,
        | CASE WHEN n_nationkey < 20 THEN 'standard'
        |      WHEN n_nationkey % 2 = 0 THEN 'vip' END AS tier
        |FROM nation""".stripMargin,

    "q_cdc_delete" ->
      """SELECT o_orderkey, o_orderstatus,
        | round(o_totalprice, 2) AS o_totalprice
        |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin,

    // the exported Iceberg manifest must carry faithful partition
    // values and record counts — its per-partition roll-up equals the
    // source aggregate
    "q_iceberg_export" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    // equality-delete sequence algebra: the first keyed delete removes
    // the ORIGINAL %10=7 rows; the doubled re-insert (%20=7) postdates
    // it and survives; the second delete (%40=7) removes its share of
    // the re-inserts (originals already gone — idempotent)
    "q_iceberg_export_eq" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2)
        |  AS o_totalprice
        |FROM orders WHERE o_orderkey % 10 <> 7
        |UNION ALL
        |SELECT o_orderkey, o_custkey, round(o_totalprice * 2, 2)
        |  AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 20 = 7 AND o_orderkey % 40 <> 7""".stripMargin,

    // the exported position deletes are a pure REPRESENTATION of the
    // two delete predicates — reconstruction from the export must
    // equal the predicate algebra over the source
    "q_iceberg_export_mor" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2)
        |  AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 10 <> 3 AND o_custkey % 7 <> 1""".stripMargin,

    // export → general-reader import is semantics-preserving: survivors
    // are the predicate algebra of the position + equality deletes, the
    // re-insert postdates the equality delete and survives with its
    // tripled price (the ENTIRE original %26=2 slice re-enters — its
    // earlier survivors were just eq-deleted, its %10=3 rows were only
    // position-deleted in their ORIGINAL files)
    "q_iceberg_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | round(o_totalprice, 2) AS o_totalprice, 'mor' AS src
        |FROM orders
        |WHERE o_orderkey % 10 <> 3 AND o_custkey % 13 <> 2
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        | round(o_totalprice * 3, 2) AS o_totalprice, 'mor' AS src
        |FROM orders WHERE o_custkey % 26 = 2
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        | round(o_totalprice, 2) AS o_totalprice, 'day' AS src
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-02-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1995-03-01 00:00:00'""".stripMargin,

    // 'final' = the post-delete state read from the v3 publish;
    // 'delta' = exactly the odd half v2 appended, read incrementally
    // from the published history's delta manifest
    "q_iceberg_publish" ->
      """SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) AS o_totalprice, 'final' AS src
        |FROM orders WHERE o_custkey % 7 <> 3
        |UNION ALL
        |SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) AS o_totalprice, 'delta' AS src
        |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin,

    // stats file-skipping over the exported log (the require in the
    // query asserts the planned-file subset; the oracle the values)
    "q_delta_skip" ->
      """SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) AS o_totalprice
        |FROM orders WHERE o_orderkey <= 300""".stripMargin,

    // VARIANT columns through the engine-free Delta reader: the
    // fixture packs (cust, status, price) into a variant per order
    // and the query extracts them back typed — the oracle is the
    // plain projection the round trip must reproduce
    "q_delta_variant" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | round(o_totalprice, 2) AS o_totalprice
        |FROM orders""".stripMargin,

    // variant lake writes: merged rows carry a rebuilt object with an
    // added `bump` field, deleted keys drop; extraction is typed
    "q_lake_variant" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus AS status,
        | round(o_totalprice, 2) AS price,
        | CASE WHEN o_custkey % 10 = 0 THEN 1 ELSE 0 END AS bumped
        |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin,

    // produced CDF: version 1 is the update (delete+insert pairs for
    // the touched keys — the non-lineage change vocabulary), version
    // 2 deletes under the POST-update values
    "q_delta_cdf_produce" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  round(o_totalprice, 2) AS o_totalprice,
        |  'delete' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
        |FROM orders WHERE o_orderkey % 10 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, 'X', round(o_totalprice, 2),
        |  'insert', 1 FROM orders WHERE o_orderkey % 10 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'X'
        |       ELSE o_orderstatus END,
        |  round(o_totalprice, 2), 'delete', 2
        |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,

    // rowTracking interop invariants: every surviving key's foreign
    // _row_id is distinct and equals graft's own lineage id (the
    // update's rewrite PRESERVED ids; the delete retired its rows)
    "q_delta_row_lineage" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_ids,
        |  CAST(count(*) AS BIGINT) AS n_agree
        |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin,

    // the Delta-log handoff: 'final' = post-delete state read through
    // the checkpoint-seeded engine-free replay, 'v0' = the even half
    // via versionAsOf time travel; o_orderstatus reconstructs from
    // partitionValues (never stored in the data files)
    "q_delta_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | round(o_totalprice, 2) AS o_totalprice, 'final' AS src
        |FROM orders WHERE o_custkey % 7 <> 3
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        | round(o_totalprice, 2) AS o_totalprice, 'v0' AS src
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        | round(o_totalprice, 2) AS o_totalprice, 'inc' AS src
        |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin,

    // column mapping is a pure NAMING indirection — the logical rows
    // are exactly the source's; the 'f' leg re-reads under a logical
    // partition predicate
    "q_delta_column_mapping" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | round(o_totalprice, 2) AS o_totalprice, 'all' AS src
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        | round(o_totalprice, 2) AS o_totalprice, 'f' AS src
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    // the foreign-path DV read is pure predicate algebra: v0 has the
    // first delete applied, 'final' both
    "q_delta_dv_import" ->
      """SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) AS o_totalprice, 'final' AS src
        |FROM orders
        |WHERE o_orderkey % 10 <> 3 AND o_custkey % 11 <> 4
        |UNION ALL
        |SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) AS o_totalprice, 'v0' AS src
        |FROM orders WHERE o_orderkey % 10 <> 3""".stripMargin,

    // the v3 puffin-DV read is pure predicate algebra: 'v1' has the
    // first delete applied, 'final' both (the growth rewrote the
    // vectors; time travel still reads the first puffin)
    "q_iceberg_v3_dv" ->
      """SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) AS o_totalprice, 'final' AS src
        |FROM orders
        |WHERE o_orderkey % 9 <> 5 AND o_orderkey % 8 <> 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) AS o_totalprice, 'v1' AS src
        |FROM orders WHERE o_orderkey % 9 <> 5""".stripMargin,

    // v3 variant: the exported tree declares the column `variant`,
    // the importer reads Spark's native Parquet Variant group back,
    // and typed extraction reproduces the relational projection
    "q_iceberg_v3_variant" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | round(o_totalprice, 2) AS o_totalprice
        |FROM orders""".stripMargin,

    // v3 initial-defaults: every data file predates the required
    // `priority` column, so every row synthesizes the default — the
    // oracle is the plain projection plus the constant
    "q_iceberg_v3_defaults" ->
      """SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) AS o_totalprice,
        | 3 AS priority, 'all' AS src
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) AS o_totalprice,
        | 3 AS priority, 'hot' AS src
        |FROM orders WHERE o_orderkey % 4 = 0""".stripMargin,

    // deletion vectors are a pure REPRESENTATION change: the oracle is
    // the predicate algebra of the four deletes + the urgent-price
    // update, independent of where the consolidation points fall
    "q_delete_vectors" ->
      """SELECT o_orderkey, o_custkey,
        | round(CASE WHEN o_orderpriority = '1-URGENT'
        |   THEN o_totalprice * 2 ELSE o_totalprice END, 2)
        |   AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 10 <> 3 AND o_orderkey % 7 <> 2
        |  AND o_custkey % 11 <> 4""".stripMargin,

    // position-delete semantics: DELETE removes status-F rows, the MOR
    // UPDATE then doubles urgent orders among the survivors
    "q_mor_predicate_delete" ->
      """SELECT o_orderkey, o_orderstatus,
        | round(CASE WHEN o_orderpriority = '1-URGENT'
        |   THEN o_totalprice * 2 ELSE o_totalprice END, 2)
        |   AS o_totalprice
        |FROM orders WHERE o_orderstatus <> 'F'""".stripMargin,

    // snapshot 2 inserts the target rows; snapshot 3's MOR keyed delete
    // suppresses %7 keys (pre-image deletes); snapshot 4's COW update
    // emits delete+insert pairs for the surviving urgent rows
    "q_table_changes" ->
      """WITH tgt AS (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
        |after_del AS (
        |  SELECT * FROM tgt WHERE o_orderkey % 7 <> 0)
        |SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
        |  'insert' AS _change_type,
        |  CAST(2 AS BIGINT) AS _commit_snapshot_id
        |FROM tgt
        |UNION ALL
        |SELECT o_orderkey, round(o_totalprice, 2), 'delete', 3
        |FROM tgt WHERE o_orderkey % 7 = 0
        |UNION ALL
        |SELECT o_orderkey, round(o_totalprice, 2), 'delete', 4
        |FROM after_del WHERE o_orderpriority = '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey, round(o_totalprice * 2, 2), 'insert', 4
        |FROM after_del WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    // rollback restores the first append's state exactly
    "q_rollback" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'""".stripMargin,

    // the scan output is transform-invisible: identical to plain orders
    // minus the deleted custkeys
    "q_bucketed_join" ->
      """SELECT c_custkey, c_name,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name""".stripMargin,

    "q_bucket_partition" ->
      """SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) AS o_totalprice
        |FROM orders WHERE o_custkey % 97 <> 0""".stripMargin,

    // the iceberg bucket transform is a pure LAYOUT choice — content
    // equals the same keyed-delete algebra, here read back through the
    // exported Iceberg data manifest
    "q_iceberg_bucket" ->
      """SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) AS o_totalprice
        |FROM orders WHERE o_custkey % 97 <> 0""".stripMargin,

    // single-file appends (repartition(1)) make the commit deltas exact:
    // create, two 1-file appends, then an overwrite retiring both
    "q_table_snapshots" ->
      """SELECT CAST(s AS BIGINT) AS snapshot_id,
        | CAST(p AS BIGINT) AS parent_id, op AS operation,
        | CAST(a AS BIGINT) AS n_added_files,
        | CAST(r AS BIGINT) AS n_removed_files,
        | CAST(l AS BIGINT) AS n_live_files
        |FROM (VALUES (1, NULL, 'create', 0, 0, 0),
        |             (2, 1, 'append', 1, 0, 1),
        |             (3, 2, 'append', 1, 0, 2),
        |             (4, 3, 'overwrite', 1, 2, 1))
        |  t(s, p, op, a, r, l)""".stripMargin,

    // append1 = one file in EVERY region partition (seq 2); append2 = a
    // second file only where n_regionkey < 2 (seq 3)
    "q_table_partitions" ->
      """SELECT 'n_regionkey=' || CAST(n_regionkey AS VARCHAR)
        |   AS "partition",
        | CAST(CASE WHEN n_regionkey < 2 THEN 2 ELSE 1 END AS BIGINT)
        |   AS file_count,
        | CAST(2 AS BIGINT) AS min_seq,
        | CAST(CASE WHEN n_regionkey < 2 THEN 3 ELSE 2 END AS BIGINT)
        |   AS max_seq,
        | CAST(CASE WHEN n_regionkey < 2 THEN 2 * count(*) ELSE count(*)
        |   END AS BIGINT) AS total_rows
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    // one file per n_regionkey partition (single-task append), seq = 2
    // (create=1, append=2); bounds = exact min/max of n_nationkey within
    // the partition
    "q_table_files" ->
      """SELECT 'n_regionkey=' || CAST(n_regionkey AS VARCHAR)
        |   AS "partition",
        | CAST(2 AS BIGINT) AS "seq",
        | CAST(count(*) AS BIGINT) AS record_count,
        | CAST(min(n_nationkey) AS BIGINT) AS min_nationkey,
        | CAST(max(n_nationkey) AS BIGINT) AS max_nationkey
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    // every order is present (the two appends partition on orderdate);
    // the merge flips %100 keys to status E across both layout eras
    "q_partition_evolution" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey % 100 = 0 THEN 'E' ELSE o_orderstatus
        | END AS o_orderstatus,
        | round(o_totalprice, 2) AS o_totalprice
        |FROM orders""".stripMargin,

    "q_mor_merge" ->
      """WITH tgt AS (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
        |src AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |         o_totalprice * 2 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT
        |  coalesce(src.o_orderkey, tgt.o_orderkey) AS o_orderkey,
        |  CASE WHEN src.o_orderkey IS NOT NULL
        |       THEN src.o_orderstatus ELSE tgt.o_orderstatus
        |  END AS o_orderstatus,
        |  round(CASE WHEN src.o_orderkey IS NOT NULL
        |       THEN src.o_totalprice ELSE tgt.o_totalprice END, 2)
        |    AS o_totalprice
        |FROM tgt FULL OUTER JOIN src
        |  ON tgt.o_orderkey = src.o_orderkey""".stripMargin,

    "q_sql_surface" ->
      """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    "q_compact_where" ->
      """SELECT o_orderkey, o_orderpriority,
        | round(o_totalprice, 2) AS o_totalprice
        |FROM orders""".stripMargin,

    // the from-scratch aggregate over the source's FINAL state — the
    // incrementally-maintained MV must hash-match it exactly
    "q_incremental_mv" ->
      """WITH f AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS v
        |  FROM orders WHERE o_orderpriority <> '1-URGENT')
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
        |  round(sum(v), 2) AS total
        |FROM f GROUP BY o_orderpriority""".stripMargin,

    // metadata-only SUM: global + per-partition + filtered probe, all
    // folded from per-file exact sums; the oracle recomputes from data
    "q_metadata_sum" ->
      """SELECT 'ALL' AS o_orderpriority,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_ckey,
        |  CAST(count(o_orderkey) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS DOUBLE) / count(o_orderkey) AS avg_okey
        |FROM orders
        |UNION ALL
        |SELECT o_orderpriority,
        |  CAST(sum(o_orderkey) AS BIGINT),
        |  CAST(sum(o_custkey) AS BIGINT),
        |  CAST(count(o_orderkey) AS BIGINT),
        |  CAST(sum(o_orderkey) AS DOUBLE) / count(o_orderkey)
        |FROM orders GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'URGENT-PROBE', CAST(NULL AS BIGINT),
        |  CAST(sum(o_custkey) AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS DOUBLE)
        |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    // the SCD2 dimension vs the interval table reconstructed from the
    // commit plan: keys ≤400 load at snapshot 2; %7 keys re-version at
    // 3 (bal+100); %13 keys close at 4 with no successor; keys
    // 401..500 open at 5
    "q_scd2_dimension" ->
      """WITH c AS (
        |  SELECT c_custkey AS k, c_mktsegment AS seg,
        |         round(c_acctbal, 2) AS bal
        |  FROM customer WHERE c_custkey <= 400),
        |v AS (
        |  SELECT k, seg, bal, CAST(2 AS BIGINT) AS valid_from,
        |    CASE WHEN k % 7 = 0 THEN 3 WHEN k % 13 = 0 THEN 4
        |         ELSE NULL END AS valid_to FROM c
        |  UNION ALL
        |  SELECT k, seg, round(bal + 100, 2), 3,
        |    CASE WHEN k % 13 = 0 THEN 4 ELSE NULL END
        |  FROM c WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, round(c_acctbal, 2), 5, NULL
        |  FROM customer WHERE c_custkey > 400 AND c_custkey <= 500)
        |SELECT k AS c_custkey, seg AS c_mktsegment, bal AS c_bal,
        |  valid_from, CAST(valid_to AS BIGINT) AS valid_to,
        |  valid_to IS NULL AS is_current
        |FROM v""".stripMargin,

    // SCD2 from the CDC clock: validity intervals are epoch micros of
    // the change timestamps, reconstructed per the synthetic I/U/D plan
    "q_scd2_cdc" ->
      """WITH c AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS seg,
        |         round(o_totalprice, 2) AS bal, o_orderdate AS d
        |  FROM orders WHERE o_orderkey <= 400),
        |v AS (
        |  SELECT k, seg, bal,
        |    epoch_us(CAST(d AS TIMESTAMP)) AS vf,
        |    CASE WHEN k % 7 = 0
        |           THEN epoch_us(CAST(d + INTERVAL 1 DAY AS TIMESTAMP))
        |         WHEN k % 13 = 0
        |           THEN epoch_us(CAST(d + INTERVAL 2 DAY AS TIMESTAMP))
        |    END AS vt
        |  FROM c
        |  UNION ALL
        |  SELECT k, seg, round(bal + 100, 2),
        |    epoch_us(CAST(d + INTERVAL 1 DAY AS TIMESTAMP)),
        |    CASE WHEN k % 13 = 0
        |      THEN epoch_us(CAST(d + INTERVAL 2 DAY AS TIMESTAMP)) END
        |  FROM c WHERE k % 7 = 0)
        |SELECT k AS o_orderkey, seg AS o_orderpriority, bal AS price,
        |  vf AS valid_from, CAST(vt AS BIGINT) AS valid_to,
        |  vt IS NULL AS is_current
        |FROM v""".stripMargin,

    // the streaming SCD2 twin: same interval reconstruction under the
    // stream's commit plan (≤300 load at 2; %5 re-version at 3 with
    // bal+50; %11 close at 4; 301..350 open at 5)
    "q_stream_scd2" ->
      """WITH c AS (
        |  SELECT c_custkey AS k, c_mktsegment AS seg,
        |         round(c_acctbal, 2) AS bal
        |  FROM customer WHERE c_custkey <= 300),
        |v AS (
        |  SELECT k, seg, bal, CAST(2 AS BIGINT) AS valid_from,
        |    CASE WHEN k % 5 = 0 THEN 3 WHEN k % 11 = 0 THEN 4
        |         ELSE NULL END AS valid_to FROM c
        |  UNION ALL
        |  SELECT k, seg, round(bal + 50, 2), 3,
        |    CASE WHEN k % 11 = 0 THEN 4 ELSE NULL END
        |  FROM c WHERE k % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, round(c_acctbal, 2), 5, NULL
        |  FROM customer WHERE c_custkey > 300 AND c_custkey <= 350)
        |SELECT k AS c_custkey, seg AS c_mktsegment, bal AS c_bal,
        |  valid_from, CAST(valid_to AS BIGINT) AS valid_to,
        |  valid_to IS NULL AS is_current
        |FROM v""".stripMargin,

    // the incremental gold mart vs a from-scratch recompute of the
    // equivalent final silver state (update applied, deletes gone);
    // avg_price derives as maintained-sum/cnt, n_categories as the
    // cube's live keys per state
    "q_gold_incremental" ->
      """WITH silver AS (
        |  SELECT o_orderpriority AS category,
        |    o_orderstatus AS destinationstate,
        |    round(o_totalprice, 2) +
        |      CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS price,
        |    CAST(o_orderkey % 5 + 1 AS DOUBLE) AS quantity
        |  FROM orders
        |  WHERE o_orderkey % 13 <> 0)
        |SELECT destinationstate, CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(price * quantity), 2) AS revenue,
        |  round(avg(price), 2) AS avg_price,
        |  CAST(count(DISTINCT category) AS BIGINT) AS n_categories
        |FROM silver GROUP BY destinationstate""".stripMargin,

    // snapshot ids are sequential, so the staleness probes are an
    // exact literal table: src = create(1) + 2 appends (2,3), refresh
    // applies watermark 3, delete commits 4
    "q_mv_staleness" ->
      """SELECT * FROM (VALUES
        |  ('1_before_refresh', 'src', CAST(0 AS BIGINT),
        |   CAST(3 AS BIGINT), CAST(3 AS BIGINT), true),
        |  ('2_after_refresh', 'src', CAST(3 AS BIGINT),
        |   CAST(3 AS BIGINT), CAST(0 AS BIGINT), false),
        |  ('3_after_mutation', 'src', CAST(3 AS BIGINT),
        |   CAST(4 AS BIGINT), CAST(1 AS BIGINT), true))
        | AS t(phase, source_table, applied_source_snapshot,
        |      source_head, pending_commits, is_stale)""".stripMargin,

    // the incrementally-maintained extremes must equal a from-scratch
    // min/max over the final state
    "q_incremental_mv_minmax" ->
      """WITH f AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 3
        |         ELSE o_totalprice END AS v
        |  FROM orders WHERE o_orderpriority <> '5-LOW')
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
        |  round(sum(v), 2) AS total,
        |  round(min(v), 2) AS mn, round(max(v), 2) AS mx
        |FROM f GROUP BY o_orderpriority""".stripMargin,

    // the continuously-maintained MV must equal the from-scratch
    // aggregate over the final source state
    "q_stream_mv" ->
      """WITH f AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 3
        |         ELSE o_totalprice END AS v
        |  FROM orders)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
        |  round(sum(v), 2) AS total
        |FROM f GROUP BY o_orderpriority""".stripMargin,

    // post-replay, the bronze recount per type must equal what the
    // stats table recorded — one grouped pass over raw events
    "q_stream_fanout" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    // the atomically-published fact/summary pair must agree exactly
    // with one grouped pass over the raw input
    "q_multi_table_txn" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(*) AS BIGINT) AS n_recorded,
        |  round(sum(o_totalprice), 2) AS total_recorded
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q_sql_count_pushdown" ->
      """SELECT (SELECT count(*) FROM lineitem) AS total,
        |       count(*) AS high_qty
        |FROM lineitem WHERE l_quantity > 40""".stripMargin,

    // the view must see the post-view INSERT (late binding) for these
    // numbers to hash-match
    "q_sql_views" ->
      """SELECT CAST(count(*) + 1 AS BIGINT) AS n,
        |  round(sum(l_quantity) + 5.0, 2) AS sum_qty,
        |  greatest(max(l_orderkey), 9999999) AS max_key
        |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin,

    // orders + exactly the one admitted row (the violating insert must
    // have been rejected for these numbers to hash-match)
    "q_sql_constraints" ->
      """SELECT CAST(count(*) + 1 AS BIGINT) AS n,
        |  round(least(min(o_totalprice), 123.45), 2) AS min_price,
        |  greatest(max(o_orderkey), 9999999) AS max_key
        |FROM orders""".stripMargin,

    "q_sql_group_by_partition" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  CAST(count(o_totalprice) AS BIGINT) AS n_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q_runtime_filter_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000
        |GROUP BY o_orderpriority""".stripMargin,

    "q_sql_minmax_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(l_quantity) AS BIGINT) AS n_qty,
        |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
        |  min(l_returnflag) AS min_flag, max(l_returnflag) AS max_flag,
        |  epoch_us(min(l_shipdate)) AS min_ship_us,
        |  max(l_orderkey) - min(l_orderkey) AS key_span
        |FROM lineitem""".stripMargin,

    "q_analyze_stats" ->
      """SELECT 'stats.num_rows' AS key,
        |       CAST(count(*) AS VARCHAR) AS value FROM orders
        |UNION ALL SELECT 'stats.col.o_orderkey.ndv',
        |  CAST(count(DISTINCT o_orderkey) AS VARCHAR) FROM orders
        |UNION ALL SELECT 'stats.col.o_orderkey.nulls',
        |  CAST(count(*) - count(o_orderkey) AS VARCHAR) FROM orders
        |UNION ALL SELECT 'stats.col.o_orderkey.min',
        |  CAST(min(o_orderkey) AS VARCHAR) FROM orders
        |UNION ALL SELECT 'stats.col.o_orderkey.max',
        |  CAST(max(o_orderkey) AS VARCHAR) FROM orders
        |UNION ALL SELECT 'stats.col.o_orderstatus.ndv',
        |  CAST(count(DISTINCT o_orderstatus) AS VARCHAR) FROM orders
        |UNION ALL SELECT 'stats.col.o_orderstatus.nulls',
        |  CAST(count(*) - count(o_orderstatus) AS VARCHAR) FROM orders
        |UNION ALL SELECT 'stats.col.o_orderstatus.min',
        |  CAST(min(o_orderstatus) AS VARCHAR) FROM orders
        |UNION ALL SELECT 'stats.col.o_orderstatus.max',
        |  CAST(max(o_orderstatus) AS VARCHAR) FROM orders""".stripMargin,

    "q_merge_upsert" ->
      """WITH tgt AS (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
        |src AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |         o_totalprice * 2 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT
        |  coalesce(src.o_orderkey, tgt.o_orderkey) AS o_orderkey,
        |  CASE WHEN src.o_orderkey IS NOT NULL
        |       THEN src.o_orderstatus ELSE tgt.o_orderstatus
        |  END AS o_orderstatus,
        |  round(CASE WHEN src.o_orderkey IS NOT NULL
        |       THEN src.o_totalprice ELSE tgt.o_totalprice END, 2)
        |    AS o_totalprice
        |FROM tgt FULL OUTER JOIN src
        |  ON tgt.o_orderkey = src.o_orderkey""".stripMargin,

    // same full-outer upsert law as q_merge_upsert — the SQL-text MERGE
    // (dedup window picks the processed_time=2 row, discarding the
    // decoy) must land the identical end state, keyed as invoiceid
    "q_sql_merge" ->
      """WITH tgt AS (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
        |src AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |         o_totalprice * 2 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT
        |  coalesce(src.o_orderkey, tgt.o_orderkey) AS invoiceid,
        |  CASE WHEN src.o_orderkey IS NOT NULL
        |       THEN src.o_orderstatus ELSE tgt.o_orderstatus
        |  END AS o_orderstatus,
        |  round(CASE WHEN src.o_orderkey IS NOT NULL
        |       THEN src.o_totalprice ELSE tgt.o_totalprice END, 2)
        |    AS o_totalprice
        |FROM tgt FULL OUTER JOIN src
        |  ON tgt.o_orderkey = src.o_orderkey""".stripMargin,

    "q_sql_delete" ->
      """SELECT o_orderkey, o_orderstatus,
        | round(o_totalprice, 2) AS o_totalprice
        |FROM orders WHERE o_orderstatus <> 'F'""".stripMargin,

    // general MERGE law: matched rows take the FIRST applying clause
    // (price>150k → 'H' + price+1000, else 'L' keeping the price),
    // unmatched source rows insert only under the price>100k guard and
    // only their listed columns (o_totalprice → NULL). The bumped price
    // is an ADDITION on purpose: /2 manufactures exact half-cents,
    // where Spark's round (shortest-decimal-string HALF_UP) and
    // DuckDB's (exact binary value) legitimately disagree.
    "q_sql_merge_assignments" ->
      """WITH tgt AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |src AS (
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT
        |  coalesce(tgt.o_orderkey, src.o_orderkey) AS o_orderkey,
        |  CASE
        |    WHEN tgt.o_orderkey IS NULL THEN 'N'
        |    WHEN src.o_orderkey IS NULL THEN tgt.o_orderstatus
        |    WHEN src.o_totalprice > 150000 THEN 'H'
        |    ELSE 'L' END AS o_orderstatus,
        |  round(CASE
        |    WHEN tgt.o_orderkey IS NULL THEN NULL
        |    WHEN src.o_orderkey IS NULL THEN tgt.o_totalprice
        |    WHEN src.o_totalprice > 150000 THEN src.o_totalprice + 1000
        |    ELSE tgt.o_totalprice END, 2) AS o_totalprice
        |FROM tgt FULL OUTER JOIN src
        |  ON tgt.o_orderkey = src.o_orderkey
        |WHERE tgt.o_orderkey IS NOT NULL
        |   OR src.o_totalprice > 100000""".stripMargin,

    // schema-evolving star merge: matched rows take every source
    // column, target-only rows read the evolved column as NULL
    "q_sql_merge_evolve" ->
      """WITH tgt AS (
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |src AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT
        |  coalesce(src.o_orderkey, tgt.o_orderkey) AS o_orderkey,
        |  round(CASE WHEN src.o_orderkey IS NOT NULL
        |    THEN src.o_totalprice ELSE tgt.o_totalprice END, 2)
        |    AS o_totalprice,
        |  src.o_orderpriority AS o_orderpriority
        |FROM tgt FULL OUTER JOIN src
        |  ON tgt.o_orderkey = src.o_orderkey""".stripMargin,

    // survivors of the IN-subquery delete (custkey not in nations<5),
    // with totalprice zeroed where the correlated EXISTS (nations>=20)
    // matched
    "q_sql_delete_subquery" ->
      """SELECT o.o_orderkey, o.o_custkey,
        |  CASE WHEN EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = o.o_custkey
        |                      AND c.c_nationkey >= 20)
        |       THEN CAST(0 AS DOUBLE) ELSE o.o_totalprice
        |  END AS o_totalprice
        |FROM orders o
        |WHERE o.o_custkey NOT IN
        |  (SELECT c_custkey FROM customer WHERE c_nationkey < 5)""".stripMargin,

    // narrow era: even keys as (INT, FLOAT) — reads back as the exact
    // double widening of the stored float (REAL round-trip). wide era:
    // odd keys shifted past int range, original doubles
    "q_sql_alter_widen" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey + 10000000000 AS o_orderkey, o_totalprice
        |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin,

    // tgt = %3<>0 keys; CDC batch over %2=0 keys: matched %10=0 rows
    // delete, matched others update (status U, price*2), UNMATCHED src
    // rows insert regardless of op (SQL MERGE: a MATCHED-only DELETE
    // cannot suppress the NOT MATCHED INSERT)
    "q_sql_merge_cdc" ->
      """WITH tgt AS (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
        |src AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
        |         'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT
        |  coalesce(s.o_orderkey, tgt.o_orderkey) AS o_orderkey,
        |  CASE WHEN s.o_orderkey IS NOT NULL
        |       THEN s.o_orderstatus ELSE tgt.o_orderstatus
        |  END AS o_orderstatus,
        |  round(CASE WHEN s.o_orderkey IS NOT NULL
        |       THEN s.o_totalprice ELSE tgt.o_totalprice END, 2)
        |    AS o_totalprice
        |FROM tgt
        |FULL OUTER JOIN src s
        |  ON tgt.o_orderkey = s.o_orderkey
        |WHERE s.o_orderkey IS NULL OR tgt.o_orderkey IS NULL
        |   OR s.op <> 'D'""".stripMargin,

    // src = nation-7 snapshot missing %3=0 custkeys (acctbal*2): matched
    // rows take the source image, source-only rows insert (none here),
    // and nation-7 rows absent from the source DROP; other nations carry
    "q_sql_merge_source" ->
      """WITH src AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |         c_acctbal * 2 AS c_acctbal, c_mktsegment
        |  FROM customer WHERE c_nationkey = 7 AND c_custkey % 3 <> 0)
        |SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS c_acctbal
        |FROM (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT t.* FROM customer t
        |  WHERE NOT EXISTS
        |      (SELECT 1 FROM src s WHERE s.c_custkey = t.c_custkey)
        |    AND NOT (t.c_nationkey = 7))""".stripMargin,

    "q_sql_insert" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders""".stripMargin,

    "q_sql_time_travel" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'""".stripMargin,

    "q_cdc_replay" ->
      """SELECT user_id, event_id, event_type,
        | round(value, 2) AS value, epoch_us(ts) AS ts_us
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1""".stripMargin,

    "q_table_history" ->
      """SELECT CAST(s AS BIGINT) AS snapshot_id,
        |       CAST(p AS BIGINT) AS parent_id, op AS operation,
        |       anc AS is_current_ancestor
        |FROM (VALUES (1, NULL, 'create', true), (2, 1, 'append', true),
        |             (3, 2, 'append', true), (4, 3, 'merge', true))
        |  t(s, p, op, anc)""".stripMargin,

    "q_medallion_pipeline" ->
      """SELECT CAST(inv AS BIGINT) AS invoiceid,
        |  CAST(item AS BIGINT) AS itemid, cat AS category,
        |  CAST(pr AS DOUBLE) AS price, CAST(qty AS INTEGER) AS quantity,
        |  od AS orderdate, st AS destinationstate, sh AS shippingtype,
        |  ref AS referral
        |FROM (VALUES
        | (24137, 34, 'degree', 53.51, 1, '2023-03-29', 'SC', '3-Day', 'book'),
        | (15587, 59, 'bit', 40.94, 5, '2022-07-16', 'PW', '3-Day', 'management'),
        | (42918, 69, 'school', 27.23, 3, '2024-04-29', 'CT', '2-Day', 'trouble'),
        | (40994, 67, 'market####', 92.02, 1, '2021-05-21', 'VI', '2-Day', 'others'),
        | (83597, 37, 'language####', 97.07, 3, '2021-09-10', 'SC', 'Standard', 'play')
        |) t(inv, item, cat, pr, qty, od, st, sh, ref)""".stripMargin,

    "q_gold_mart" ->
      """SELECT st AS destinationstate, CAST(n AS BIGINT) AS n_orders,
        |  CAST(rev AS DOUBLE) AS revenue, CAST(ap AS DOUBLE) AS avg_price,
        |  CAST(nc AS BIGINT) AS n_categories
        |FROM (VALUES
        |  ('SC', 2, 344.72, 75.29, 2),
        |  ('PW', 1, 204.70, 40.94, 1),
        |  ('CT', 1, 81.69, 27.23, 1),
        |  ('VI', 1, 92.02, 92.02, 1)
        |) t(st, n, rev, ap, nc)""".stripMargin,

    "q_stream_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | round(sum(value), 2) AS total_value
        |FROM events GROUP BY event_type""".stripMargin,

    // the delta-tail stream replicates the foreign log exactly once,
    // so the destination table IS the source state
    "q_stream_delta_tail" ->
      """SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) AS o_totalprice
        |FROM orders""".stripMargin,

    // the CDF tail is pure predicate algebra: v1's cdc rows (update
    // pre/post-images on %13=1, deletes on %17=2 minus the update
    // overlap — the decoy file actions contribute NOTHING), v2's
    // synthesized inserts (%19=3, price+1); a decoy leak would
    // re-report the whole base file as deletes and fail the hash
    "q_delta_cdf_tail" ->
      """SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) AS o_totalprice,
        | 'update_preimage' AS _change_type,
        | CAST(1 AS BIGINT) AS _commit_version
        |FROM orders WHERE o_orderkey % 13 = 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) * 2 AS o_totalprice,
        | 'update_postimage' AS _change_type,
        | CAST(1 AS BIGINT) AS _commit_version
        |FROM orders WHERE o_orderkey % 13 = 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) AS o_totalprice,
        | 'delete' AS _change_type,
        | CAST(1 AS BIGINT) AS _commit_version
        |FROM orders WHERE o_orderkey % 17 = 2 AND o_orderkey % 13 <> 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey,
        | round(o_totalprice, 2) + 1 AS o_totalprice,
        | 'insert' AS _change_type,
        | CAST(2 AS BIGINT) AS _commit_version
        |FROM orders WHERE o_orderkey % 19 = 3""".stripMargin,

    // the lake-tail stream delivers every commit exactly once, so the
    // sink aggregate IS the batch aggregate over the source
    "q_stream_lake_tail" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | round(sum(value), 2) AS total_value
        |FROM events GROUP BY event_type""".stripMargin,

    "q_stream_window" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, value FROM events),
        |m AS (SELECT max(ts_us) AS mx FROM e)
        |SELECT ts_us - ts_us % 3600000000 AS window_start_us,
        |  ts_us - ts_us % 3600000000 + 3600000000 AS window_end_us,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 2) AS total_value
        |FROM e, m
        |WHERE ts_us - ts_us % 3600000000 + 3600000000 <= mx - 3600000000
        |GROUP BY 1, 2, 3""".stripMargin,

    // the doubled delivery collapses back to the distinct key set —
    // which physical copy survives is arrival-dependent, so only the
    // key columns are compared
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type, epoch_us(ts) AS ts_us
        |FROM events""".stripMargin,

    // AvailableNow emits every in-batch match, so the stream-stream
    // interval join equals the plain batch interval join
    "q_stream_interval_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |c AS (SELECT user_id, event_id, ts_us FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id, ts_us FROM e
        |      WHERE event_type = 'purchase')
        |SELECT c.user_id, c.event_id AS click_id,
        |  p.event_id AS purchase_id,
        |  c.ts_us AS click_ts_us, p.ts_us AS purchase_ts_us
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.ts_us >= c.ts_us
        |  AND p.ts_us <= c.ts_us + 900000000""".stripMargin,

    // streaming MOR upsert: three ordered drops (event_id % 3), one
    // row per user per drop (max event_id), MERGEd in drop order with
    // 'error' rows as CDC deletes — final state is last-writer-wins
    // per user, minus users whose last action was a delete
    "q_stream_upsert" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         round(value, 2) AS value, epoch_us(ts) AS ts_us,
        |         event_id % 3 AS chunk
        |  FROM events),
        |reps AS (
        |  SELECT * FROM e
        |  QUALIFY row_number() OVER (
        |    PARTITION BY user_id, chunk ORDER BY event_id DESC) = 1),
        |last AS (
        |  SELECT * FROM reps
        |  QUALIFY row_number() OVER (
        |    PARTITION BY user_id ORDER BY chunk DESC) = 1)
        |SELECT event_id, user_id, event_type, value, ts_us
        |FROM last WHERE event_type <> 'error'""".stripMargin,

    "q_asof_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         round(value, 2) AS value
        |  FROM events),
        |l AS (SELECT user_id, event_id, ts_us, value FROM e
        |      WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts_us, value FROM e
        |      WHERE event_type = 'purchase')
        |SELECT l.user_id, l.event_id, l.ts_us,
        |       r.value AS asof_value, r.ts_us AS asof_ts_us
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us""".stripMargin,

    "q_asof_tolerance" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         round(value, 2) AS value
        |  FROM events),
        |l AS (SELECT user_id, event_id, ts_us, value FROM e
        |      WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts_us, value FROM e
        |      WHERE event_type = 'purchase')
        |SELECT l.user_id, l.event_id, l.ts_us,
        |  CASE WHEN l.ts_us - r.ts_us <= 600000000 THEN r.value END
        |    AS asof_value,
        |  CASE WHEN l.ts_us - r.ts_us <= 600000000 THEN r.ts_us END
        |    AS asof_ts_us
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us""".stripMargin,

    "q_salted_join" ->
      """SELECT o_orderpriority, round(sum(l_quantity), 2) AS sum_qty,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
        |b AS (
        |  SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us) > 1800000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (
        |  SELECT *, CAST(sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts_us
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        |  FROM b)
        |SELECT user_id, session_no,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts_us) AS session_start_us,
        |  max(ts_us) AS session_end_us,
        |  round(sum(value), 2) AS total_value,
        |  (max(ts_us) - min(ts_us)) // 1000000 AS duration_s
        |FROM s GROUP BY user_id, session_no""".stripMargin,

    "q_band_join" ->
      """WITH e AS (
        |  SELECT event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |err AS (SELECT event_id AS error_id, ts_us AS error_ts
        |        FROM e WHERE event_type = 'error'),
        |sg AS (SELECT event_id AS signup_id, ts_us AS signup_ts
        |       FROM e WHERE event_type = 'signup')
        |SELECT error_id, signup_id, error_ts, signup_ts
        |FROM err JOIN sg
        |  ON abs(error_ts - signup_ts) <= 60000000""".stripMargin,

    // funnel: greedy earliest-completion chain — each step's match is
    // the earliest eligible event at/after the previous match, whole
    // chain within 7 days of step 1; depth k ⇒ reached every step ≤ k
    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |s1 AS (
        |  SELECT user_id, min(ts_us) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT s1.user_id, s1.t1, min(e.ts_us) AS t2
        |  FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
        |    AND e.event_type = 'click' AND e.ts_us >= s1.t1
        |    AND e.ts_us <= s1.t1 + 604800000000
        |  GROUP BY s1.user_id, s1.t1),
        |s3 AS (
        |  SELECT s2.user_id, s2.t1, s2.t2, min(e.ts_us) AS t3
        |  FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
        |    AND e.event_type = 'purchase' AND e.ts_us >= s2.t2
        |    AND e.ts_us <= s2.t1 + 604800000000
        |  GROUP BY s2.user_id, s2.t1, s2.t2),
        |d AS (
        |  SELECT 1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
        |           + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS depth
        |  FROM s3),
        |f AS (
        |  SELECT 1 AS step, 'view' AS event_type, count(*) AS n FROM d
        |  UNION ALL
        |  SELECT 2, 'click', count(*) FROM d WHERE depth >= 2
        |  UNION ALL
        |  SELECT 3, 'purchase', count(*) FROM d WHERE depth >= 3),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d)
        |SELECT CAST(step AS INTEGER) AS step, event_type,
        |  CAST(f.n AS BIGINT) AS n_users,
        |  round(f.n / tot.n, 4) AS conv_rate
        |FROM f CROSS JOIN tot""".stripMargin,

    "q_cube" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))"""
        .stripMargin,

    "q_set_intersect" ->
      """SELECT o_orderkey FROM orders WHERE o_totalprice > 150000
        |INTERSECT
        |SELECT o_orderkey FROM orders
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    "q_window_range_frame" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
        |  FROM events)
        |SELECT user_id, event_id, ts_us,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts_us
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2)
        |    AS hour_spend
        |FROM e""".stripMargin,

    "q_ntile_quartiles" ->
      """WITH t AS (
        |  SELECT user_id, round(sum(value), 2) AS total
        |  FROM events GROUP BY user_id)
        |SELECT user_id, total,
        |  CAST(ntile(4) OVER (ORDER BY total DESC, user_id ASC)
        |    AS INTEGER) AS quartile
        |FROM t""".stripMargin,

    "q_stat_aggs" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(value), 4) AS avg_value,
        |  round(var_samp(value), 4) AS var_value,
        |  round(stddev_samp(value), 4) AS sd_value,
        |  round(corr(value, CAST(event_id % 97 AS DOUBLE)), 4)
        |    AS corr_vx
        |FROM events GROUP BY event_type""".stripMargin,

    "q_resample_gapfill" ->
      """WITH e AS (
        |  SELECT CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT)
        |      AS hr, event_type
        |  FROM events),
        |c AS (SELECT hr, event_type, count(*) AS n FROM e
        |      GROUP BY hr, event_type),
        |b AS (SELECT min(hr) AS mn, max(hr) AS mx FROM e),
        |h AS (SELECT unnest(generate_series(mn, mx)) AS hr FROM b),
        |t AS (SELECT DISTINCT event_type FROM e)
        |SELECT h.hr AS hour, t.event_type,
        |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
        |FROM h CROSS JOIN t
        |LEFT JOIN c ON c.hr = h.hr AND c.event_type = t.event_type"""
        .stripMargin,

    // rolling z-score: frame ordered (ts, event_id) — deterministic
    // under timestamp ties; membership (n ≥ 10, sd > 0) is integer-
    // or sign-exact, only the rounded score carries fp noise
    "q_anomaly_zscore" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, ts_us, value,
        |    avg(value) OVER w AS mu,
        |    stddev_samp(value) OVER w AS sd,
        |    count(*) OVER w AS n
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, ts_us,
        |  round((value - mu) / sd, 4) AS z
        |FROM s WHERE n >= 10 AND sd > 0""".stripMargin,

    // hourly OHLC bars: open/close via deterministic (ts, event_id)
    // row_number — no reliance on timestamp uniqueness
    "q_ohlc_bars" ->
      """WITH e AS (
        |  SELECT CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT)
        |      AS hour,
        |    event_type, epoch_us(ts) AS ts_us, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY hour, event_type
        |      ORDER BY ts_us ASC, event_id ASC) AS ra,
        |    row_number() OVER (PARTITION BY hour, event_type
        |      ORDER BY ts_us DESC, event_id DESC) AS rd
        |  FROM e)
        |SELECT hour, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  round(max(CASE WHEN ra = 1 THEN value END), 2) AS open,
        |  round(max(value), 2) AS high,
        |  round(min(value), 2) AS low,
        |  round(max(CASE WHEN rd = 1 THEN value END), 2) AS close,
        |  round(sum(value), 2) AS total
        |FROM r GROUP BY hour, event_type""".stripMargin,

    // same greedy chain as q_funnel; timing stats over completions
    "q_funnel_timing" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |s1 AS (
        |  SELECT user_id, min(ts_us) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT s1.user_id, s1.t1, min(e.ts_us) AS t2
        |  FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
        |    AND e.event_type = 'click' AND e.ts_us >= s1.t1
        |    AND e.ts_us <= s1.t1 + 604800000000
        |  GROUP BY s1.user_id, s1.t1),
        |s3 AS (
        |  SELECT s2.user_id, s2.t1, s2.t2, min(e.ts_us) AS t3
        |  FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
        |    AND e.event_type = 'purchase' AND e.ts_us >= s2.t2
        |    AND e.ts_us <= s2.t1 + 604800000000
        |  GROUP BY s2.user_id, s2.t1, s2.t2),
        |d AS (SELECT (t3 - t1) / 1000000.0 AS s FROM s3
        |      WHERE t3 IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  round(quantile_cont(s, 0.5), 2) AS p50_s,
        |  round(quantile_cont(s, 0.9), 2) AS p90_s,
        |  round(avg(s), 2) AS avg_s
        |FROM d""".stripMargin,

    // weekly cohort retention anchored at 2024-01-01 UTC (anchored
    // 7-day periods — no engine week-start rules)
    "q_cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(floor((epoch_us(ts) - 1704067200000000)
        |      / 604800000000) AS BIGINT) AS wk
        |  FROM events),
        |a AS (SELECT DISTINCT user_id, wk FROM e),
        |c AS (SELECT user_id, min(wk) AS cohort FROM a
        |      GROUP BY user_id)
        |SELECT c.cohort AS cohort_week, a.wk - c.cohort AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
        | CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q_dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |d3 AS (SELECT * FROM toks WHERE len(ts) >= 3),
        |w AS (
        |  SELECT doc_id, unnest(ts) AS word,
        |         generate_subscripts(ts, 1) AS pos
        |  FROM d3),
        |g0 AS (
        |  SELECT DISTINCT a.doc_id,
        |    a.word || ' ' || b.word || ' ' || c.word AS gram
        |  FROM w a
        |  JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |keep AS (
        |  SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= 100),
        |g AS (SELECT g0.* FROM g0 JOIN keep USING (gram)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |sh AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared
        |  FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id)
        |SELECT id_a, id_b,
        |  round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 4)
        |    AS jaccard
        |FROM sh
        |JOIN cnt ca ON sh.id_a = ca.doc_id
        |JOIN cnt cb ON sh.id_b = cb.doc_id
        |WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.5""".stripMargin,

    "q_dedup_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |d3 AS (SELECT * FROM toks WHERE len(ts) >= 3),
        |w AS (
        |  SELECT doc_id, unnest(ts) AS word,
        |         generate_subscripts(ts, 1) AS pos
        |  FROM d3),
        |g0 AS (
        |  SELECT DISTINCT a.doc_id,
        |    a.word || ' ' || b.word || ' ' || c.word AS gram
        |  FROM w a
        |  JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |keep AS (
        |  SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= 100),
        |g AS (SELECT g0.* FROM g0 JOIN keep USING (gram)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |sh AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared
        |  FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id)
        |SELECT id_a, id_b,
        |  round(CAST(shared AS DOUBLE) / least(ca.n, cb.n), 4)
        |    AS containment
        |FROM sh
        |JOIN cnt ca ON sh.id_a = ca.doc_id
        |JOIN cnt cb ON sh.id_b = cb.doc_id
        |WHERE CAST(shared AS DOUBLE) / least(ca.n, cb.n) >= 0.6""".stripMargin,

    "q_vocab_stats" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |        AS token
        |      FROM documents)
        |GROUP BY token
        |ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
        |   AS n_tokens
        |FROM documents""".stripMargin,

    "q_tfidf" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1,2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(floor(tf.tf * ln((n.n + 1.0)/(dfq.df + 1.0)) * 10000)
        |      AS BIGINT) AS score_q4
        |  FROM tf, dfq, n WHERE tf.term = dfq.term),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_q4 DESC, term ASC) AS rnk
        |  FROM scored)
        |SELECT doc_id, rnk, term, score_q4 FROM ranked
        |WHERE rnk <= 3""".stripMargin,

    "q_vocab_zipf" ->
      """WITH tk AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |    AS token FROM documents),
        |freq AS (SELECT token, count(*) AS n FROM tk GROUP BY 1),
        |ranked AS (SELECT token, n,
        |    row_number() OVER (ORDER BY n DESC, token ASC) AS rnk
        |  FROM freq ORDER BY n DESC, token ASC LIMIT 100)
        |SELECT round(regr_slope(ln(n), ln(rnk)), 4) AS zipf_slope,
        |  CAST(count(*) AS BIGINT) AS n_terms FROM ranked""".stripMargin,

    "q_chunk_docs" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+')
        |    AS ts FROM documents),
        |ch AS (
        |  SELECT doc_id, len(ts) AS n, ts,
        |    unnest(generate_series(0,
        |      greatest(CAST(ceil((len(ts) - 64) / 32.0) AS BIGINT), 0)))
        |      AS chunk_idx
        |  FROM tk)
        |SELECT doc_id, chunk_idx,
        |  CAST(least(64, n - chunk_idx*32) AS BIGINT) AS n_tokens,
        |  ts[CAST(chunk_idx*32 + 1 AS INT)] AS first_term,
        |  ts[CAST(chunk_idx*32 + least(64, n - chunk_idx*32) AS INT)]
        |    AS last_term
        |FROM ch""".stripMargin,

    "q_lang_id" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |   len(list_filter(ts, x -> list_contains(
        |     ['the','a','and','of','is'], x))) AS en,
        |   len(list_filter(ts, x -> list_contains(
        |     ['der','die','das','und','ist'], x))) AS de,
        |   len(list_filter(ts, x -> list_contains(
        |     ['le','la','les','et','est'], x))) AS fr,
        |   len(list_filter(ts, x -> list_contains(
        |     ['el','los','las','y','es'], x))) AS es
        |  FROM tk)
        |SELECT doc_id,
        |  CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |       WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |       WHEN fr >= es AND fr > 0 THEN 'fr'
        |       WHEN es > 0 THEN 'es'
        |       ELSE 'und' END AS lang_pred
        |FROM c""".stripMargin,

    "q_quality_score" ->
      """WITH tk AS (
        |  SELECT doc_id, text,
        |         regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |   CAST(len(ts) AS DOUBLE) AS n_tok,
        |   (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]',
        |     '', 'g'))) / CAST(greatest(length(text), 1) AS DOUBLE)
        |     AS punct,
        |   len(list_filter(ts, x -> list_contains(
        |     ['the','a','an','and','of','to','in','is','it','that'], x)))
        |     / CAST(greatest(len(ts), 1) AS DOUBLE) AS stop
        |  FROM tk)
        |SELECT doc_id,
        |  CAST(floor((least(1.0, n_tok / 50.0) * 0.4 +
        |        (1.0 - least(1.0, punct * 5.0)) * 0.3 +
        |        least(1.0, stop * 4.0) * 0.3) * 10000) AS BIGINT)
        |    AS quality_q4
        |FROM m""".stripMargin,

    "q_cosine_pairs" ->
      """WITH x AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(sum(a.v * b.v) /
        |    (sqrt(sum(a.v * a.v)) * sqrt(sum(b.v * b.v))), 4) AS cos
        |FROM x a JOIN x b ON a.i = b.i AND b.vec_id = a.vec_id + 1
        |GROUP BY a.vec_id, b.vec_id""".stripMargin,

    // exact top-k: DOUBLE[] casts make DuckDB's cosine run the same
    // float→double widened arithmetic as graft_cosine
    // lake lifecycle algebra: append(%3<>0) + merge-upsert(%3=0 or
    // %5=0, embeddings unchanged) + delete(%7=0) ≡ all ids with
    // vec_id % 7 <> 0 — the ANN must see exactly that corpus
    "q_lake_vectors" ->
      """WITH final AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 0)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, corpus_id,
        |       round(score, 6) AS score
        |FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |    list_cosine_similarity(c.embedding::DOUBLE[],
        |      q.embedding::DOUBLE[]) AS score,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[],
        |        q.embedding::DOUBLE[]) DESC, c.vec_id ASC) AS rnk
        |  FROM final c CROSS JOIN final q
        |  WHERE q.vec_id % 50 = 0)
        |WHERE rnk <= 5""".stripMargin,

    "q_ann_bruteforce" ->
      """SELECT query_id, CAST(rnk AS INTEGER) AS rank, corpus_id,
        |       round(score, 6) AS score
        |FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |    list_cosine_similarity(c.embedding::DOUBLE[],
        |      q.embedding::DOUBLE[]) AS score,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[],
        |        q.embedding::DOUBLE[]) DESC, c.vec_id ASC) AS rnk
        |  FROM embeddings c CROSS JOIN embeddings q
        |  WHERE q.vec_id % 50 = 0)
        |WHERE rnk <= 5""".stripMargin,

    // int8 quantization mirrored exactly: scale = list-max |x| / 127,
    // codes = floor(x/scale + 0.5); ranking on the codes (cosine is
    // scale-invariant)
    "q_ann_int8" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) /
        |        (list_aggregate(list_transform(embedding,
        |           y -> abs(CAST(y AS DOUBLE))), 'max') / 127.0)
        |        + 0.5) AS DOUBLE)) AS q
        |  FROM embeddings)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, corpus_id,
        |       round(score, 6) AS score
        |FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |    list_cosine_similarity(c.q, q.q) AS score,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.q, q.q) DESC,
        |        c.vec_id ASC) AS rnk
        |  FROM qv c CROSS JOIN qv q
        |  WHERE q.vec_id % 50 = 0)
        |WHERE rnk <= 5""".stripMargin,

    // the lake-persisted index uses the SAME seeded quantizer as
    // q_ann_ivf (16 lowest vec_ids, argmax-cosine assignment, top-4
    // probes) — identical SQL replay
    "q_ann_lake_index" ->
      """WITH cent AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) AS cid,
        |         embedding AS cvec
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |assign AS (
        |  SELECT corpus_id, corpus_vec, cid FROM (
        |    SELECT e.vec_id AS corpus_id, e.embedding AS corpus_vec, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |          c.cvec::DOUBLE[]) DESC, c.cid ASC) AS rn
        |    FROM embeddings e CROSS JOIN cent c)
        |  WHERE rn = 1),
        |probe AS (
        |  SELECT query_id, query_vec, cid FROM (
        |    SELECT q.vec_id AS query_id, q.embedding AS query_vec, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
        |          c.cvec::DOUBLE[]) DESC, c.cid ASC) AS rn
        |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id % 50 = 0)
        |  WHERE rn <= 4)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, corpus_id,
        |       round(score, 6) AS score
        |FROM (
        |  SELECT p.query_id, a.corpus_id,
        |    list_cosine_similarity(a.corpus_vec::DOUBLE[],
        |      p.query_vec::DOUBLE[]) AS score,
        |    row_number() OVER (PARTITION BY p.query_id
        |      ORDER BY list_cosine_similarity(a.corpus_vec::DOUBLE[],
        |        p.query_vec::DOUBLE[]) DESC, a.corpus_id ASC) AS rnk
        |  FROM assign a JOIN probe p ON a.cid = p.cid)
        |WHERE rnk <= 5""".stripMargin,

    // mirrors ivfTopK exactly: centroids = 16 lowest vec_ids, assignment
    // = argmax cosine (ties to lowest centroid), probes = top-4
    // centroids per query, exact re-rank within probed lists
    "q_ann_ivf" ->
      """WITH cent AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) AS cid,
        |         embedding AS cvec
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |assign AS (
        |  SELECT corpus_id, corpus_vec, cid FROM (
        |    SELECT e.vec_id AS corpus_id, e.embedding AS corpus_vec, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |          c.cvec::DOUBLE[]) DESC, c.cid ASC) AS rn
        |    FROM embeddings e CROSS JOIN cent c)
        |  WHERE rn = 1),
        |probe AS (
        |  SELECT query_id, query_vec, cid FROM (
        |    SELECT q.vec_id AS query_id, q.embedding AS query_vec, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
        |          c.cvec::DOUBLE[]) DESC, c.cid ASC) AS rn
        |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id % 50 = 0)
        |  WHERE rn <= 4)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, corpus_id,
        |       round(score, 6) AS score
        |FROM (
        |  SELECT p.query_id, a.corpus_id,
        |    list_cosine_similarity(a.corpus_vec::DOUBLE[],
        |      p.query_vec::DOUBLE[]) AS score,
        |    row_number() OVER (PARTITION BY p.query_id
        |      ORDER BY list_cosine_similarity(a.corpus_vec::DOUBLE[],
        |        p.query_vec::DOUBLE[]) DESC, a.corpus_id ASC) AS rnk
        |  FROM assign a JOIN probe p ON a.cid = p.cid)
        |WHERE rnk <= 5""".stripMargin,

    // product quantization: id-sampled per-block codebooks (the SQL
    // replays them), argmin-L2 encoding, ADC scoring in a FIXED
    // 4-term add order so both engines' doubles are bit-identical
    "q_ann_pq" ->
      """WITH seeds AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) AS j,
        |         embedding::DOUBLE[] AS v
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |cb AS (
        |  SELECT m, j, v[(m-1)*16+1:m*16] AS c
        |  FROM seeds, unnest(generate_series(1, 4)) AS t(m)),
        |enc AS (
        |  SELECT vec_id, m, j FROM (
        |    SELECT e.vec_id, cb.m, cb.j,
        |      row_number() OVER (PARTITION BY e.vec_id, cb.m
        |        ORDER BY list_distance(
        |          (e.embedding::DOUBLE[])[(cb.m-1)*16+1:cb.m*16], cb.c),
        |          cb.j) AS rn
        |    FROM embeddings e CROSS JOIN cb)
        |  WHERE rn = 1),
        |parts AS (
        |  SELECT q.vec_id AS query_id, enc.vec_id AS corpus_id, enc.m,
        |    list_inner_product(
        |      (q.embedding::DOUBLE[])[(enc.m-1)*16+1:enc.m*16], cb.c) AS p
        |  FROM embeddings q
        |  CROSS JOIN enc
        |  JOIN cb ON enc.m = cb.m AND enc.j = cb.j
        |  WHERE q.vec_id % 50 = 0),
        |scored AS (
        |  SELECT query_id, corpus_id,
        |    max(CASE WHEN m=1 THEN p END) + max(CASE WHEN m=2 THEN p END)
        |    + max(CASE WHEN m=3 THEN p END)
        |    + max(CASE WHEN m=4 THEN p END) AS score
        |  FROM parts GROUP BY query_id, corpus_id)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, corpus_id,
        |       round(score, 6) AS score
        |FROM (
        |  SELECT query_id, corpus_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(score, 6) DESC, corpus_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5""".stripMargin,

    // IVF-PQ: the q_ann_ivf coarse quantizer (cent/assign/probe CTEs)
    // bounds the candidate set, the q_ann_pq codebooks (seeds/cb/enc)
    // price each candidate via ADC in the same fixed 4-term add order
    "q_ann_ivfpq" ->
      """WITH cent AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) AS cid,
        |         embedding AS cvec
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |assign AS (
        |  SELECT corpus_id, cid FROM (
        |    SELECT e.vec_id AS corpus_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |          c.cvec::DOUBLE[]) DESC, c.cid ASC) AS rn
        |    FROM embeddings e CROSS JOIN cent c)
        |  WHERE rn = 1),
        |probe AS (
        |  SELECT query_id, cid FROM (
        |    SELECT q.vec_id AS query_id, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
        |          c.cvec::DOUBLE[]) DESC, c.cid ASC) AS rn
        |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id % 50 = 0)
        |  WHERE rn <= 4),
        |seeds AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) AS j,
        |         embedding::DOUBLE[] AS v
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |cb AS (
        |  SELECT m, j, v[(m-1)*16+1:m*16] AS c
        |  FROM seeds, unnest(generate_series(1, 4)) AS t(m)),
        |enc AS (
        |  SELECT vec_id, m, j FROM (
        |    SELECT e.vec_id, cb.m, cb.j,
        |      row_number() OVER (PARTITION BY e.vec_id, cb.m
        |        ORDER BY list_distance(
        |          (e.embedding::DOUBLE[])[(cb.m-1)*16+1:cb.m*16], cb.c),
        |          cb.j) AS rn
        |    FROM embeddings e CROSS JOIN cb)
        |  WHERE rn = 1),
        |cand AS (
        |  SELECT p.query_id, a.corpus_id
        |  FROM assign a JOIN probe p ON a.cid = p.cid),
        |parts AS (
        |  SELECT cd.query_id, cd.corpus_id, enc.m,
        |    list_inner_product(
        |      (q.embedding::DOUBLE[])[(enc.m-1)*16+1:enc.m*16], cb.c) AS p
        |  FROM cand cd
        |  JOIN embeddings q ON q.vec_id = cd.query_id
        |  JOIN enc ON enc.vec_id = cd.corpus_id
        |  JOIN cb ON enc.m = cb.m AND enc.j = cb.j),
        |scored AS (
        |  SELECT query_id, corpus_id,
        |    max(CASE WHEN m=1 THEN p END) + max(CASE WHEN m=2 THEN p END)
        |    + max(CASE WHEN m=3 THEN p END)
        |    + max(CASE WHEN m=4 THEN p END) AS score
        |  FROM parts GROUP BY query_id, corpus_id)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, corpus_id,
        |       round(score, 6) AS score
        |FROM (
        |  SELECT query_id, corpus_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(score, 6) DESC, corpus_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5""".stripMargin,

    // streaming sessionize emits every CLOSED session = the batch
    // sessionizer's output minus each user's last (still-open) session
    "q_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
        |b AS (
        |  SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us) > 1800000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (
        |  SELECT *, CAST(sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts_us
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        |  FROM b),
        |agg AS (
        |  SELECT user_id, session_no,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    min(ts_us) AS session_start_us,
        |    max(ts_us) AS session_end_us,
        |    round(sum(value), 2) AS total_value
        |  FROM s GROUP BY user_id, session_no)
        |SELECT user_id, session_start_us, session_end_us, n_events,
        |       total_value
        |FROM agg
        |QUALIFY session_no < max(session_no) OVER (PARTITION BY user_id)"""
        .stripMargin,

    "q_stream_enrich" ->
      """SELECT 'seg_' || CAST(user_id % 10 AS VARCHAR) AS label,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1""".stripMargin,

    // gap-closed sessions + idle finals timed out by the watermark:
    // Spark registers the timeout at floor(end_us/1000) + gap_ms and
    // fires it when the final watermark (floor(max_us/1000) − delay_ms)
    // is strictly greater — mirrored in ms integer math here
    "q_stream_sessions_timeout" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
        |wm AS (
        |  SELECT (max(ts_us) // 1000) - 3600000 AS wm_ms FROM e),
        |b AS (
        |  SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us) > 1800000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (
        |  SELECT *, CAST(sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts_us
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        |  FROM b),
        |agg AS (
        |  SELECT user_id, session_no,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    min(ts_us) AS session_start_us,
        |    max(ts_us) AS session_end_us,
        |    round(sum(value), 2) AS total_value
        |  FROM s GROUP BY user_id, session_no)
        |SELECT user_id, session_start_us, session_end_us, n_events,
        |       total_value
        |FROM agg
        |QUALIFY session_no < max(session_no) OVER (PARTITION BY user_id)
        |  OR (session_end_us // 1000) + 1800000 <
        |     (SELECT wm_ms FROM wm)""".stripMargin,

    // MinHash+LSH verifies candidates with the TRUE shingle Jaccard, so
    // its output equals the exact pair set whenever banding recall is
    // total — which 128 hashes / 32 bands gives for >=0.5-similar docs.
    // Oracle = exact pairs over the same shingle semantics (short docs
    // contribute their whole token string as one shingle).
    "q_dedup_minhash" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(ts) AS word,
        |         generate_subscripts(ts, 1) AS pos
        |  FROM toks WHERE len(ts) >= 3),
        |g AS (
        |  SELECT DISTINCT a.doc_id,
        |    a.word || ' ' || b.word || ' ' || c.word AS gram
        |  FROM w a
        |  JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |  UNION ALL
        |  SELECT doc_id, array_to_string(ts, ' ') AS gram
        |  FROM toks WHERE len(ts) < 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |sh AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared
        |  FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id)
        |SELECT id_a, id_b,
        |  round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 4)
        |    AS jaccard
        |FROM sh
        |JOIN cnt ca ON sh.id_a = ca.doc_id
        |JOIN cnt cb ON sh.id_b = cb.doc_id
        |WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.5"""
        .stripMargin,

    // transitive closure via recursive CTE: rep(x) = min id reachable
    // over the >=0.5 ngram-jaccard pair graph; keep docs that are their
    // own representative plus all unpaired docs
    "q_dedup_representatives" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang, source,
        |         regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |d3 AS (SELECT * FROM toks WHERE len(ts) >= 3),
        |w AS (
        |  SELECT doc_id, unnest(ts) AS word,
        |         generate_subscripts(ts, 1) AS pos
        |  FROM d3),
        |g0 AS (
        |  SELECT DISTINCT a.doc_id,
        |    a.word || ' ' || b.word || ' ' || c.word AS gram
        |  FROM w a
        |  JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |keep AS (
        |  SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= 100),
        |g AS (SELECT g0.* FROM g0 JOIN keep USING (gram)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |sh AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared
        |  FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM sh
        |  JOIN cnt ca ON sh.id_a = ca.doc_id
        |  JOIN cnt cb ON sh.id_b = cb.doc_id
        |  WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.5),
        |edges AS (
        |  SELECT id_a AS x, id_b AS y FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT DISTINCT x, x AS r FROM edges
        |  UNION
        |  SELECT e.x, reach.r FROM edges e JOIN reach ON reach.x = e.y),
        |comp AS (SELECT x, min(r) AS rep FROM reach GROUP BY x)
        |SELECT d.doc_id, d.lang, d.source
        |FROM d3 d LEFT JOIN comp ON d.doc_id = comp.x
        |WHERE comp.x IS NULL OR comp.rep = d.doc_id""".stripMargin,

    "q_dedup_simhash" -> simhashOracleSql,

    // incremental admission: batch = doc_id % 3 == 0 against corpus =
    // the rest; dup_of = smallest matching id among corpus matches and
    // lower-id batch matches (exact md5 OR trigram-shingle J >= 0.5);
    // exact beats near on the same id; unmatched batch docs are novel
    "q_dedup_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(ts) AS word,
        |         generate_subscripts(ts, 1) AS pos
        |  FROM toks WHERE len(ts) >= 3),
        |g AS (
        |  SELECT DISTINCT a.doc_id,
        |    a.word || ' ' || b.word || ' ' || c.word AS gram
        |  FROM w a
        |  JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |  UNION ALL
        |  SELECT doc_id, array_to_string(ts, ' ') AS gram
        |  FROM toks WHERE len(ts) < 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |md AS (SELECT doc_id, md5(text) AS h FROM documents),
        |pair AS (
        |  SELECT y.doc_id AS doc_id, x.doc_id AS dup_of,
        |    CAST(count(*) AS DOUBLE) / (cy.n + cx.n - count(*)) AS j
        |  FROM g x JOIN g y ON x.gram = y.gram
        |  JOIN cnt cx ON cx.doc_id = x.doc_id
        |  JOIN cnt cy ON cy.doc_id = y.doc_id
        |  WHERE y.doc_id % 3 = 0
        |    AND (x.doc_id % 3 <> 0 OR x.doc_id < y.doc_id)
        |  GROUP BY y.doc_id, x.doc_id, cy.n, cx.n),
        |exacts AS (
        |  SELECT b.doc_id AS doc_id, a.doc_id AS dup_of
        |  FROM md a JOIN md b ON a.h = b.h
        |  WHERE b.doc_id % 3 = 0
        |    AND (a.doc_id % 3 <> 0 OR a.doc_id < b.doc_id)),
        |matches AS (
        |  SELECT doc_id, dup_of, 0 AS ex FROM pair WHERE j >= 0.5
        |  UNION ALL SELECT doc_id, dup_of, 1 AS ex FROM exacts),
        |best AS (
        |  SELECT doc_id, dup_of, ex, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY dup_of ASC, ex DESC) AS rn
        |  FROM matches)
        |SELECT doc_id, dup_of,
        |  CASE WHEN ex = 1 THEN 'exact' ELSE 'near' END AS kind
        |FROM best WHERE rn = 1
        |UNION ALL
        |SELECT d.doc_id, CAST(NULL AS BIGINT) AS dup_of, 'novel' AS kind
        |FROM documents d
        |WHERE d.doc_id % 3 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM matches m WHERE m.doc_id = d.doc_id)"""
        .stripMargin,

    // winnowing fingerprint = min over 16-char windows of the polynomial
    // rolling hash, whose 64-bit wraparound is plain mod-2^64 arithmetic:
    // window hash = sum(char * B^(15-j)) mod 2^64, reinterpreted signed
    "q_fingerprint" ->
      """WITH pows AS (
        |  SELECT [6397295411589846571, 5600660903763878393,
        |    14911146631531166995, 15642640937032856817,
        |    2455841760392682171, 5231796974404119081,
        |    3634980586811902243, 1460077494926286753,
        |    12924618581234127435, 10923514805226455897,
        |    14453212906556403763, 14003818205314896721,
        |    1000009000027000027, 1000006000009, 1000003, 1]::HUGEINT[]
        |    AS p),
        |ch AS (
        |  SELECT doc_id, i, ascii(lower(text)[i:i])::HUGEINT AS c,
        |         strlen(text) AS n
        |  FROM documents,
        |       unnest(generate_series(1, strlen(text)::INT)) AS t(i)),
        |win AS (
        |  SELECT a.doc_id, a.i AS s,
        |    sum(b.c * (SELECT p FROM pows)[(b.i - a.i + 1)::INT]) AS hsum
        |  FROM ch a JOIN ch b
        |    ON b.doc_id = a.doc_id AND b.i BETWEEN a.i AND a.i + 15
        |  WHERE a.i <= a.n - 15
        |  GROUP BY a.doc_id, a.i),
        |winh AS (
        |  SELECT doc_id,
        |    CASE WHEN hsum % 18446744073709551616::HUGEINT
        |              >= 9223372036854775808::HUGEINT
        |      THEN (hsum % 18446744073709551616::HUGEINT
        |            - 18446744073709551616::HUGEINT)::BIGINT
        |      ELSE (hsum % 18446744073709551616::HUGEINT)::BIGINT
        |    END AS h
        |  FROM win)
        |SELECT doc_id, min(h) AS fp FROM winh GROUP BY doc_id"""
        .stripMargin,

    "q_repetition_metrics" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(ts) AS word,
        |         generate_subscripts(ts, 1) AS pos
        |  FROM toks),
        |bi AS (
        |  SELECT a.doc_id, count(*) AS nb, count(DISTINCT
        |    a.word || ' ' || b.word) AS db
        |  FROM w a JOIN w b
        |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  GROUP BY a.doc_id),
        |top AS (
        |  SELECT doc_id, max(c) AS mx, sum(c) AS tot
        |  FROM (SELECT doc_id, word, count(*) AS c FROM w
        |        GROUP BY doc_id, word)
        |  GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
        |  CASE WHEN len(t.ts) > 0
        |    THEN round(len(list_distinct(t.ts))
        |           / CAST(len(t.ts) AS DOUBLE), 4)
        |    ELSE 0.0 END AS type_token_ratio,
        |  coalesce(round(top.mx / CAST(top.tot AS DOUBLE), 4), 0.0)
        |    AS top_word_frac,
        |  CASE WHEN coalesce(bi.nb, 0) > 0
        |    THEN round((bi.nb - bi.db) / CAST(bi.nb AS DOUBLE), 4)
        |    ELSE 0.0 END AS dup_bigram_frac
        |FROM toks t
        |LEFT JOIN bi ON t.doc_id = bi.doc_id
        |LEFT JOIN top ON t.doc_id = top.doc_id""".stripMargin,

    // trigram shingles mirrored from q_dedup_ngram_jaccard (incl. the
    // short-document whole-text fallback); bench = docs %20==0
    "q_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(ts) AS word,
        |         generate_subscripts(ts, 1) AS pos
        |  FROM toks WHERE len(ts) >= 3),
        |g AS (
        |  SELECT DISTINCT a.doc_id,
        |    a.word || ' ' || b.word || ' ' || c.word AS gram
        |  FROM w a
        |  JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |  UNION ALL
        |  SELECT doc_id, array_to_string(ts, ' ') AS gram
        |  FROM toks WHERE len(ts) < 3),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
        |corp AS (SELECT doc_id, gram FROM g WHERE doc_id % 20 <> 0)
        |SELECT corp.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(bench.gram) AS BIGINT) AS n_hits,
        |  round(count(bench.gram) / CAST(count(*) AS DOUBLE), 4) AS score
        |FROM corp LEFT JOIN bench ON corp.gram = bench.gram
        |GROUP BY corp.doc_id""".stripMargin,

    // md5-threshold sampling is engine-portable by construction: the
    // very predicate is the oracle (0.5 -> hex 8000…, 0.25 -> 4000…)
    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE md5(concat_ws('|', CAST(doc_id AS VARCHAR), 's7')) <
        |  CASE WHEN lang = 'en'
        |         THEN '80000000000000000000000000000000'
        |       WHEN lang = 'zh'
        |         THEN '40000000000000000000000000000000'
        |       ELSE 'g' END""".stripMargin,

    // the oracle derives the data-dependent thresholds itself — every
    // operand integer (HUGEINT there, Decimal(38,0) in Spark), so the
    // keep decision is bit-identical: u60·100·n_s < 2^60·pct·N
    "q_mixture_rebalance" ->
      """WITH n AS (SELECT count(*) AS total FROM documents),
        |s AS (SELECT source, count(*) AS ns FROM documents
        |      GROUP BY source),
        |t(source, pct) AS (VALUES ('src0', 8), ('src1', 4)),
        |kept AS (
        |  SELECT d.source FROM documents d
        |  JOIN s ON d.source = s.source CROSS JOIN n
        |  LEFT JOIN t ON d.source = t.source
        |  WHERE t.pct IS NULL
        |     OR CAST('0x' || substr(md5(concat_ws('|',
        |            CAST(d.doc_id AS VARCHAR), '')), 1, 15)
        |          AS BIGINT)::HUGEINT * (100 * s.ns)::HUGEINT
        |        < 1152921504606846976::HUGEINT * t.pct * n.total)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept
        |FROM kept GROUP BY source""".stripMargin,

    "q_oov_rate" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(string_split_regex(lower(text), '\s+')) AS tk
        |  FROM documents),
        |tok2 AS (SELECT doc_id, tk FROM tok WHERE tk <> ''),
        |vocab AS (SELECT tk FROM tok2 GROUP BY tk
        |          ORDER BY count(*) DESC, tk ASC LIMIT 30)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  round(CAST(sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END)
        |          AS DOUBLE) / count(*), 6) AS oov_rate
        |FROM tok2 t LEFT JOIN vocab v ON t.tk = v.tk
        |GROUP BY t.doc_id""".stripMargin,

    "q_unigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(string_split_regex(lower(text), '\s+')) AS tk
        |  FROM documents),
        |tok2 AS (SELECT doc_id, tk FROM tok WHERE tk <> ''),
        |freq AS (SELECT tk, count(*) AS c FROM tok2 GROUP BY tk),
        |n AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM freq)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(avg(ln(CAST(f.c AS DOUBLE) / n.total)), 4) AS logprob
        |FROM tok2 t JOIN freq f ON t.tk = f.tk CROSS JOIN n
        |GROUP BY t.doc_id""".stripMargin,

    // Gopher cascade: first failing rule in documented order; all
    // ratios are int/int double divisions — engine-identical
    "q_gopher_filter" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |         regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(ts) AS word,
        |         generate_subscripts(ts, 1) AS pos
        |  FROM toks),
        |bi AS (
        |  SELECT a.doc_id, count(*) AS nb, count(DISTINCT
        |    a.word || ' ' || b.word) AS db
        |  FROM w a JOIN w b
        |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  GROUP BY a.doc_id),
        |top AS (
        |  SELECT doc_id, max(c) AS mx
        |  FROM (SELECT doc_id, word, count(*) AS c FROM w
        |        GROUP BY doc_id, word)
        |  GROUP BY doc_id),
        |sig AS (
        |  SELECT t.doc_id,
        |    CAST(len(t.ts) AS BIGINT) AS n,
        |    CAST(list_aggregate(list_transform(t.ts, x -> len(x)),
        |      'sum') AS BIGINT) AS lensum,
        |    CAST(len(t.text) - len(regexp_replace(t.text,
        |      '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS symbols,
        |    CAST(len(t.text) AS BIGINT) AS chars,
        |    CAST(len(list_filter(t.ts,
        |      x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha,
        |    coalesce(top.mx, 0) AS topc,
        |    coalesce(bi.nb, 0) AS nb,
        |    coalesce(bi.nb - bi.db, 0) AS dupb
        |  FROM toks t
        |  LEFT JOIN bi ON t.doc_id = bi.doc_id
        |  LEFT JOIN top ON t.doc_id = top.doc_id)
        |SELECT doc_id, n AS n_tokens, (reason IS NULL) AS keep,
        |       reason AS fail_reason
        |FROM (
        |  SELECT *, CASE
        |    WHEN n < 25 THEN 'too_few_words'
        |    WHEN n > 90 THEN 'too_many_words'
        |    WHEN CAST(lensum AS DOUBLE) / n < 2.0
        |      THEN 'mean_word_too_short'
        |    WHEN CAST(lensum AS DOUBLE) / n > 10.0
        |      THEN 'mean_word_too_long'
        |    WHEN CAST(symbols AS DOUBLE) / greatest(chars, 1) > 0.1
        |      THEN 'symbol_heavy'
        |    WHEN CAST(alpha AS DOUBLE) / n < 0.8
        |      THEN 'non_alpha_words'
        |    WHEN CAST(topc AS DOUBLE) / n > 0.12
        |      THEN 'top_word_dominates'
        |    WHEN nb > 0 AND CAST(dupb AS DOUBLE) / nb > 0.25
        |      THEN 'repeated_bigrams'
        |    END AS reason
        |  FROM sig)""".stripMargin,

    // bigram LM: adjacency over the FILTERED token sequence (empties
    // dropped before lead()), p(w2|w1) = c12/c1 from the corpus itself
    "q_bigram_logprob" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |         string_split_regex(lower(text), '\s+') AS toks
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(toks) AS tk,
        |         generate_subscripts(toks, 1) AS pos
        |  FROM raw),
        |tok2 AS (SELECT * FROM tok WHERE tk <> ''),
        |big AS (
        |  SELECT doc_id, tk AS w1,
        |         lead(tk) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM tok2),
        |big2 AS (SELECT * FROM big WHERE w2 IS NOT NULL),
        |c12 AS (SELECT w1, w2, count(*) AS c FROM big2 GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(c) AS DOUBLE) AS t FROM c12
        |       GROUP BY w1)
        |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(avg(ln(CAST(f.c AS DOUBLE) / t.t)), 4) AS logprob,
        |  round(exp(-avg(ln(CAST(f.c AS DOUBLE) / t.t))), 4) AS ppl
        |FROM big2 b JOIN c12 f ON b.w1 = f.w1 AND b.w2 = f.w2
        |JOIN c1 t ON b.w1 = t.w1
        |GROUP BY b.doc_id""".stripMargin,

    // DSIR: hashed-unigram (md5 low 32 bits mod 64) bucket dists, raw
    // corpus = p, src0/src1 sample = q, Laplace (c+1)/(N+64); weight =
    // Σ ln(q/p) over the doc's tokens — arithmetic shapes mirror the
    // Spark side exactly (each prob computed, then the ratio's ln)
    "q_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(string_split_regex(lower(text), '\s+')) AS tk
        |  FROM documents),
        |tok2 AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(tk), 1, 8) AS BIGINT) % 64 AS b
        |  FROM tok WHERE tk <> ''),
        |ttok AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS tk
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |ttok2 AS (
        |  SELECT CAST('0x' || substr(md5(tk), 1, 8) AS BIGINT) % 64 AS b
        |  FROM ttok WHERE tk <> ''),
        |p AS (SELECT b, count(*) AS c FROM tok2 GROUP BY b),
        |pn AS (SELECT count(*) AS n FROM tok2),
        |q AS (SELECT b, count(*) AS c FROM ttok2 GROUP BY b),
        |qn AS (SELECT count(*) AS n FROM ttok2)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(sum(ln(
        |    (CAST(COALESCE(q.c, 0) + 1 AS DOUBLE) / (qn.n + 64)) /
        |    (CAST(p.c + 1 AS DOUBLE) / (pn.n + 64)))), 4) AS weight
        |FROM tok2 t
        |JOIN p ON t.b = p.b
        |LEFT JOIN q ON t.b = q.b
        |CROSS JOIN pn CROSS JOIN qn
        |GROUP BY t.doc_id""".stripMargin,

    "q_pii_scrub" -> {
      import graft.operators.PiiScrub.{EmailRe, IpRe, PhoneRe}
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT)
         |    AS n_phones,
         |  CAST(len(regexp_extract_all(text, '$IpRe')) AS BIGINT)
         |    AS n_ips,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$EmailRe', '<EMAIL>', 'g'),
         |    '$IpRe', '<IP>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g')) AS scrubbed_md5
         |FROM documents""".stripMargin
    },

    "q_shard_packing" ->
      """WITH tc AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |      AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens) / 5000.0) AS BIGINT)
        |    AS shard
        |FROM tc""".stripMargin,

    "q_data_card" ->
      """WITH t AS (
        |  SELECT lang, md5(text) AS h,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |      AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  round(avg(n_tokens), 2) AS avg_tokens,
        |  round(quantile_cont(n_tokens, 0.5), 2) AS p50_tokens,
        |  round(quantile_cont(n_tokens, 0.9), 2) AS p90_tokens,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_unique_texts,
        |  round(1.0 - count(DISTINCT h) / count(*), 4) AS dup_rate
        |FROM t GROUP BY lang""".stripMargin,

    "q_sequence_pack" ->
      """WITH tc AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |      AS BIGINT) AS n
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n,
        |    CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      - n AS BIGINT) AS s
        |  FROM tc WHERE n > 0),
        |x AS (
        |  SELECT doc_id, s, s + n AS e,
        |    unnest(generate_series(s // 512, (s + n - 1) // 512))
        |      AS seq_id
        |  FROM p)
        |SELECT doc_id, seq_id,
        |  greatest(s, seq_id * 512) - s AS tok_start,
        |  least(e, (seq_id + 1) * 512) - greatest(s, seq_id * 512)
        |    AS tok_len
        |FROM x""".stripMargin,

    // hyperplane-LSH top-k: bucket join on the exact signature, re-rank
    // within buckets (single-probe; sparse buckets return < k rows)
    "q_ann_lsh" ->
      s"""WITH ${sigsSql(10)}
         |SELECT query_id, CAST(rnk AS INTEGER) AS rank, corpus_id,
         |       round(score, 6) AS score
         |FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |    list_cosine_similarity(c.embedding::DOUBLE[],
         |      q.embedding::DOUBLE[]) AS score,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[],
         |        q.embedding::DOUBLE[]) DESC, c.vec_id ASC) AS rnk
         |  FROM sigs c JOIN sigs q ON c.bucket = q.bucket
         |  WHERE q.vec_id % 50 = 0)
         |WHERE rnk <= 5""".stripMargin,

    // recall@k: every index SQL-replayed (planes, buckets, centroids),
    // then hits counted against the exact top-k — pure integer-count
    // arithmetic, bit-identical across engines
    "q_ann_recall" ->
      s"""WITH ${sigsSql(10)},
         |exact AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(c.embedding::DOUBLE[],
         |          q.embedding::DOUBLE[]) DESC, c.vec_id ASC) AS rnk
         |    FROM embeddings c CROSS JOIN embeddings q
         |    WHERE q.vec_id % 50 = 0)
         |  WHERE rnk <= 5),
         |nq AS (SELECT count(*) AS n FROM embeddings WHERE vec_id % 50 = 0),
         |m_lsh AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(c.embedding::DOUBLE[],
         |          q.embedding::DOUBLE[]) DESC, c.vec_id ASC) AS rnk
         |    FROM sigs c JOIN sigs q ON c.bucket = q.bucket
         |    WHERE q.vec_id % 50 = 0)
         |  WHERE rnk <= 5),
         |m_mp AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT q.query_id, c.vec_id AS corpus_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY list_cosine_similarity(c.embedding::DOUBLE[],
         |          q.qvec::DOUBLE[]) DESC, c.vec_id ASC) AS rnk
         |    FROM sigs c JOIN (
         |      SELECT vec_id AS query_id, embedding AS qvec,
         |        CASE WHEN b = 0 THEN bucket
         |             ELSE xor(bucket, (1::BIGINT << (b - 1))) END AS bucket
         |      FROM sigs, unnest(generate_series(0, 10)) AS u(b)
         |      WHERE vec_id % 50 = 0) q ON c.bucket = q.bucket)
         |  WHERE rnk <= 5),
         |cent AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) AS cid,
         |         embedding AS cvec
         |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
         |assign AS (
         |  SELECT corpus_id, corpus_vec, cid FROM (
         |    SELECT e.vec_id AS corpus_id, e.embedding AS corpus_vec, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
         |          c.cvec::DOUBLE[]) DESC, c.cid ASC) AS rn
         |    FROM embeddings e CROSS JOIN cent c)
         |  WHERE rn = 1),
         |probe AS (
         |  SELECT query_id, query_vec, cid FROM (
         |    SELECT q.vec_id AS query_id, q.embedding AS query_vec, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
         |          c.cvec::DOUBLE[]) DESC, c.cid ASC) AS rn
         |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id % 50 = 0)
         |  WHERE rn <= 4),
         |m_ivf AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT p.query_id, a.corpus_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY list_cosine_similarity(a.corpus_vec::DOUBLE[],
         |          p.query_vec::DOUBLE[]) DESC, a.corpus_id ASC) AS rnk
         |    FROM assign a JOIN probe p ON a.cid = p.cid)
         |  WHERE rnk <= 5),
         |qv8 AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x ->
         |      CAST(floor(CAST(x AS DOUBLE) /
         |        (list_aggregate(list_transform(embedding,
         |           y -> abs(CAST(y AS DOUBLE))), 'max') / 127.0)
         |        + 0.5) AS DOUBLE)) AS q
         |  FROM embeddings),
         |m_int8 AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(c.q, q.q) DESC,
         |          c.vec_id ASC) AS rnk
         |    FROM qv8 c CROSS JOIN qv8 q
         |    WHERE q.vec_id % 50 = 0)
         |  WHERE rnk <= 5),
         |pseeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) AS j,
         |         embedding::DOUBLE[] AS v
         |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
         |pcb AS (
         |  SELECT m, j, v[(m-1)*16+1:m*16] AS c
         |  FROM pseeds, unnest(generate_series(1, 4)) AS t(m)),
         |penc AS (
         |  SELECT vec_id, m, j FROM (
         |    SELECT e.vec_id, pcb.m, pcb.j,
         |      row_number() OVER (PARTITION BY e.vec_id, pcb.m
         |        ORDER BY list_distance(
         |          (e.embedding::DOUBLE[])[(pcb.m-1)*16+1:pcb.m*16], pcb.c),
         |          pcb.j) AS rn
         |    FROM embeddings e CROSS JOIN pcb)
         |  WHERE rn = 1),
         |pparts AS (
         |  SELECT q.vec_id AS query_id, penc.vec_id AS corpus_id, penc.m,
         |    list_inner_product(
         |      (q.embedding::DOUBLE[])[(penc.m-1)*16+1:penc.m*16], pcb.c)
         |      AS p
         |  FROM embeddings q
         |  CROSS JOIN penc
         |  JOIN pcb ON penc.m = pcb.m AND penc.j = pcb.j
         |  WHERE q.vec_id % 50 = 0),
         |m_pq AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT query_id, corpus_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY round(score, 6) DESC, corpus_id) AS rnk
         |    FROM (
         |      SELECT query_id, corpus_id,
         |        max(CASE WHEN m=1 THEN p END) + max(CASE WHEN m=2 THEN p END)
         |        + max(CASE WHEN m=3 THEN p END)
         |        + max(CASE WHEN m=4 THEN p END) AS score
         |      FROM pparts GROUP BY query_id, corpus_id))
         |  WHERE rnk <= 5),
         |ipparts AS (
         |  SELECT cd.query_id, cd.corpus_id, penc.m,
         |    list_inner_product(
         |      (q.embedding::DOUBLE[])[(penc.m-1)*16+1:penc.m*16], pcb.c)
         |      AS p
         |  FROM (SELECT p.query_id, a.corpus_id
         |        FROM assign a JOIN probe p ON a.cid = p.cid) cd
         |  JOIN embeddings q ON q.vec_id = cd.query_id
         |  JOIN penc ON penc.vec_id = cd.corpus_id
         |  JOIN pcb ON penc.m = pcb.m AND penc.j = pcb.j),
         |m_ivfpq AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT query_id, corpus_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY round(score, 6) DESC, corpus_id) AS rnk
         |    FROM (
         |      SELECT query_id, corpus_id,
         |        max(CASE WHEN m=1 THEN p END) + max(CASE WHEN m=2 THEN p END)
         |        + max(CASE WHEN m=3 THEN p END)
         |        + max(CASE WHEN m=4 THEN p END) AS score
         |      FROM ipparts GROUP BY query_id, corpus_id))
         |  WHERE rnk <= 5),
         |tseed AS (
         |  SELECT row_number() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid,
         |    embedding::DOUBLE[] AS cvec
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
         |ta1 AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, s.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
         |          s.cvec) DESC, s.cid ASC) AS rn
         |    FROM embeddings e CROSS JOIN tseed s)
         |  WHERE rn = 1),
         |tm1 AS (
         |  SELECT cid, pos, round(avg(x), 6) AS r FROM (
         |    SELECT cid, unnest(embedding) AS x,
         |           generate_subscripts(embedding, 1) AS pos FROM ta1)
         |  GROUP BY cid, pos),
         |tc1 AS (
         |  SELECT s.cid, COALESCE(n.cvec, s.cvec) AS cvec
         |  FROM tseed s LEFT JOIN (
         |    SELECT cid,
         |      CASE WHEN list_aggregate(list_transform(rv, w -> w*w),
         |          'sum') = 0
         |        THEN NULL
         |        ELSE list_transform(rv, v -> round(v / sqrt(
         |          list_aggregate(list_transform(rv, w -> w*w), 'sum')),
         |          6)::FLOAT::DOUBLE) END AS cvec
         |    FROM (SELECT cid, list(r ORDER BY pos) AS rv FROM tm1
         |          GROUP BY cid)
         |  ) n ON s.cid = n.cid),
         |ta2 AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, s.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
         |          s.cvec) DESC, s.cid ASC) AS rn
         |    FROM embeddings e CROSS JOIN tc1 s)
         |  WHERE rn = 1),
         |tm2 AS (
         |  SELECT cid, pos, round(avg(x), 6) AS r FROM (
         |    SELECT cid, unnest(embedding) AS x,
         |           generate_subscripts(embedding, 1) AS pos FROM ta2)
         |  GROUP BY cid, pos),
         |tc2 AS (
         |  SELECT s.cid, COALESCE(n.cvec, s.cvec) AS cvec
         |  FROM tc1 s LEFT JOIN (
         |    SELECT cid,
         |      CASE WHEN list_aggregate(list_transform(rv, w -> w*w),
         |          'sum') = 0
         |        THEN NULL
         |        ELSE list_transform(rv, v -> round(v / sqrt(
         |          list_aggregate(list_transform(rv, w -> w*w), 'sum')),
         |          6)::FLOAT::DOUBLE) END AS cvec
         |    FROM (SELECT cid, list(r ORDER BY pos) AS rv FROM tm2
         |          GROUP BY cid)
         |  ) n ON s.cid = n.cid),
         |tassign AS (
         |  SELECT corpus_id, corpus_vec, cid FROM (
         |    SELECT e.vec_id AS corpus_id, e.embedding AS corpus_vec,
         |      c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
         |          c.cvec) DESC, c.cid ASC) AS rn
         |    FROM embeddings e CROSS JOIN tc2 c)
         |  WHERE rn = 1),
         |tprobe AS (
         |  SELECT query_id, query_vec, cid FROM (
         |    SELECT q.vec_id AS query_id, q.embedding AS query_vec, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
         |          c.cvec) DESC, c.cid ASC) AS rn
         |    FROM embeddings q CROSS JOIN tc2 c WHERE q.vec_id % 50 = 0)
         |  WHERE rn <= 4),
         |m_ivt AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT p.query_id, a.corpus_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY list_cosine_similarity(a.corpus_vec::DOUBLE[],
         |          p.query_vec::DOUBLE[]) DESC, a.corpus_id ASC) AS rnk
         |    FROM tassign a JOIN tprobe p ON a.cid = p.cid)
         |  WHERE rnk <= 5)
         |SELECT method, n_queries, hits,
         |       round(hits / (5.0 * n_queries), 4) AS recall
         |FROM (
         |  SELECT 'bruteforce' AS method, (SELECT n FROM nq) AS n_queries,
         |         (SELECT count(*) FROM exact) AS hits
         |  UNION ALL
         |  SELECT 'lsh', (SELECT n FROM nq),
         |    (SELECT count(*) FROM m_lsh JOIN exact
         |       USING (query_id, corpus_id))
         |  UNION ALL
         |  SELECT 'lsh_multiprobe', (SELECT n FROM nq),
         |    (SELECT count(*) FROM m_mp JOIN exact
         |       USING (query_id, corpus_id))
         |  UNION ALL
         |  SELECT 'ivf', (SELECT n FROM nq),
         |    (SELECT count(*) FROM m_ivf JOIN exact
         |       USING (query_id, corpus_id))
         |  UNION ALL
         |  SELECT 'ivf_trained', (SELECT n FROM nq),
         |    (SELECT count(*) FROM m_ivt JOIN exact
         |       USING (query_id, corpus_id))
         |  UNION ALL
         |  SELECT 'pq', (SELECT n FROM nq),
         |    (SELECT count(*) FROM m_pq JOIN exact
         |       USING (query_id, corpus_id))
         |  UNION ALL
         |  SELECT 'ivfpq', (SELECT n FROM nq),
         |    (SELECT count(*) FROM m_ivfpq JOIN exact
         |       USING (query_id, corpus_id))
         |  UNION ALL
         |  SELECT 'int8', (SELECT n FROM nq),
         |    (SELECT count(*) FROM m_int8 JOIN exact
         |       USING (query_id, corpus_id)))""".stripMargin,

    // the planted-cluster corpus rebuilds EXACTLY from two
    // generate_series (integer grid + md5 noise — dots and norms exact
    // in both engines); the probe CTE is computed once to depth 8 and
    // each sweep row filters it
    "q_ann_recall_clustered" ->
      s"""WITH corpus AS (
         |  SELECT i AS vec_id, list(x ORDER BY j) AS embedding FROM (
         |    SELECT i, j, CAST(
         |      (((i % 8) * 37 + j * 13) % 19 - 9) * 2
         |      + (CAST('0x' || substr(md5(i || '_' || j), 1, 8)
         |           AS BIGINT) % 15 - 7) AS DOUBLE) AS x
         |    FROM generate_series(0, 599) s(i),
         |         generate_series(0, 15) t(j))
         |  GROUP BY i),
         |nq AS (SELECT count(*) AS n FROM corpus WHERE vec_id % 25 = 0),
         |exact AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(c.embedding,
         |          q.embedding) DESC, c.vec_id ASC) AS rnk
         |    FROM corpus c CROSS JOIN corpus q WHERE q.vec_id % 25 = 0)
         |  WHERE rnk <= 5),
         |planes(pi, pl) AS (VALUES
         |  ${planesSqlValues(10, 16, 42L)}),
         |sigs AS (
         |  SELECT e.vec_id, e.embedding,
         |    CAST(sum(CASE WHEN list_dot_product(e.embedding, p.pl) > 0
         |      THEN 1 << (p.pi - 1) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM corpus e CROSS JOIN planes p
         |  GROUP BY e.vec_id, e.embedding),
         |m_lsh AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(c.embedding,
         |          q.embedding) DESC, c.vec_id ASC) AS rnk
         |    FROM sigs c JOIN sigs q ON c.bucket = q.bucket
         |    WHERE q.vec_id % 25 = 0)
         |  WHERE rnk <= 5),
         |m_mp AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT q.query_id, c.vec_id AS corpus_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY list_cosine_similarity(c.embedding,
         |          q.qvec) DESC, c.vec_id ASC) AS rnk
         |    FROM sigs c JOIN (
         |      SELECT vec_id AS query_id, embedding AS qvec,
         |        CASE WHEN b = 0 THEN bucket
         |             ELSE xor(bucket, (1::BIGINT << (b - 1))) END
         |          AS bucket
         |      FROM sigs, unnest(generate_series(0, 10)) AS u(b)
         |      WHERE vec_id % 25 = 0) q ON c.bucket = q.bucket)
         |  WHERE rnk <= 5),
         |cent AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) AS cid,
         |         embedding AS cvec
         |  FROM (SELECT * FROM corpus ORDER BY vec_id LIMIT 16)),
         |assign AS (
         |  SELECT corpus_id, corpus_vec, cid FROM (
         |    SELECT e.vec_id AS corpus_id, e.embedding AS corpus_vec,
         |      c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding,
         |          c.cvec) DESC, c.cid ASC) AS rn
         |    FROM corpus e CROSS JOIN cent c)
         |  WHERE rn = 1),
         |probe AS (
         |  SELECT query_id, query_vec, cid, rn FROM (
         |    SELECT q.vec_id AS query_id, q.embedding AS query_vec,
         |      c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding,
         |          c.cvec) DESC, c.cid ASC) AS rn
         |    FROM corpus q CROSS JOIN cent c WHERE q.vec_id % 25 = 0)
         |  WHERE rn <= 8),
         |m_ivf2 AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT p.query_id, a.corpus_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY list_cosine_similarity(a.corpus_vec,
         |          p.query_vec) DESC, a.corpus_id ASC) AS rnk
         |    FROM assign a JOIN probe p ON a.cid = p.cid
         |    WHERE p.rn <= 2)
         |  WHERE rnk <= 5),
         |m_ivf4 AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT p.query_id, a.corpus_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY list_cosine_similarity(a.corpus_vec,
         |          p.query_vec) DESC, a.corpus_id ASC) AS rnk
         |    FROM assign a JOIN probe p ON a.cid = p.cid
         |    WHERE p.rn <= 4)
         |  WHERE rnk <= 5),
         |m_ivf8 AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT p.query_id, a.corpus_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY list_cosine_similarity(a.corpus_vec,
         |          p.query_vec) DESC, a.corpus_id ASC) AS rnk
         |    FROM assign a JOIN probe p ON a.cid = p.cid
         |    WHERE p.rn <= 8)
         |  WHERE rnk <= 5)
         |SELECT method, n_queries, hits,
         |       round(hits / (5.0 * n_queries), 4) AS recall
         |FROM (
         |  SELECT 'bruteforce' AS method,
         |         (SELECT n FROM nq) AS n_queries,
         |         (SELECT count(*) FROM exact) AS hits
         |  UNION ALL
         |  SELECT 'lsh', (SELECT n FROM nq),
         |    (SELECT count(*) FROM m_lsh JOIN exact
         |       USING (query_id, corpus_id))
         |  UNION ALL
         |  SELECT 'lsh_multiprobe', (SELECT n FROM nq),
         |    (SELECT count(*) FROM m_mp JOIN exact
         |       USING (query_id, corpus_id))
         |  UNION ALL
         |  SELECT 'ivf_probe2', (SELECT n FROM nq),
         |    (SELECT count(*) FROM m_ivf2 JOIN exact
         |       USING (query_id, corpus_id))
         |  UNION ALL
         |  SELECT 'ivf_probe4', (SELECT n FROM nq),
         |    (SELECT count(*) FROM m_ivf4 JOIN exact
         |       USING (query_id, corpus_id))
         |  UNION ALL
         |  SELECT 'ivf_probe8', (SELECT n FROM nq),
         |    (SELECT count(*) FROM m_ivf8 JOIN exact
         |       USING (query_id, corpus_id)))""".stripMargin,

    // multi-probe: each query joins its own bucket plus the 10 buckets
    // at hamming distance 1 (single-bit xor flips); probe buckets are
    // distinct per query, so each (query, corpus) pair appears once
    "q_ann_lsh_multiprobe" ->
      s"""WITH ${sigsSql(10)},
         |probes AS (
         |  SELECT vec_id AS query_id, embedding AS qvec,
         |    CASE WHEN b = 0 THEN bucket
         |         ELSE xor(bucket, (1::BIGINT << (b - 1))) END AS bucket
         |  FROM sigs, unnest(generate_series(0, 10)) AS u(b)
         |  WHERE vec_id % 50 = 0)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rank, corpus_id,
         |       round(score, 6) AS score
         |FROM (
         |  SELECT q.query_id, c.vec_id AS corpus_id,
         |    list_cosine_similarity(c.embedding::DOUBLE[],
         |      q.qvec::DOUBLE[]) AS score,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[],
         |        q.qvec::DOUBLE[]) DESC, c.vec_id ASC) AS rnk
         |  FROM sigs c JOIN probes q ON c.bucket = q.bucket)
         |WHERE rnk <= 5""".stripMargin,

    "q_neardup_embedding" ->
      s"""WITH ${sigsSql(6)}
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(list_cosine_similarity(a.embedding::DOUBLE[],
         |    b.embedding::DOUBLE[]), 6) AS score
         |FROM sigs a JOIN sigs b
         |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
         |    b.embedding::DOUBLE[]), 6) >= 0.25""".stripMargin,

    // SemDeDup: same 16-seed quantizer as q_ann_ivf; a vector survives
    // iff no lower-id same-cluster vector is near-duplicate to it
    "q_semdedup" ->
      """WITH cent AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) AS cid,
        |         embedding AS cvec
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |assign AS (
        |  SELECT vec_id, embedding, cid FROM (
        |    SELECT e.vec_id, e.embedding, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |          c.cvec::DOUBLE[]) DESC, c.cid ASC) AS rn
        |    FROM embeddings e CROSS JOIN cent c)
        |  WHERE rn = 1)
        |SELECT a.vec_id, CAST(a.cid AS INTEGER) AS centroid_id
        |FROM assign a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM assign b
        |  WHERE b.cid = a.cid AND b.vec_id < a.vec_id
        |    AND round(list_cosine_similarity(a.embedding::DOUBLE[],
        |      b.embedding::DOUBLE[]), 6) >= 0.2)""".stripMargin,

    // duplicated-span stats over distinct word bigrams (the shingles
    // semantics, including the short-document whole-text fallback)
    // exact-substring spans: every position whose 30-gram occurs more
    // than once in the corpus, merged into maximal islands per doc;
    // clean_len cross-checks the removal fold as length - dup_chars
    "q_dedup_substring" ->
      """WITH g AS (
        |  -- static series (DuckDB 1.0 has no lateral column bound);
        |  -- 4095 comfortably exceeds the fixture's max doc length
        |  SELECT doc_id, i AS pos,
        |         substr(text, CAST(i AS INT) + 1, 30) AS gram
        |  FROM documents, generate_series(0, 4095) AS t(i)
        |  WHERE i <= length(text) - 30),
        |d AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS c
        |    FROM g) q
        |  WHERE c > 1),
        |isl AS (
        |  SELECT doc_id, pos, CASE WHEN pos > coalesce(max(pos + 30)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |    THEN 1 ELSE 0 END AS brk
        |  FROM d),
        |isl2 AS (
        |  SELECT doc_id, pos, sum(brk) OVER (
        |    PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
        |sp AS (
        |  SELECT doc_id, island, min(pos) AS s, max(pos) + 30 AS e
        |  FROM isl2 GROUP BY doc_id, island),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(e - s) AS BIGINT) AS dup_chars
        |  FROM sp GROUP BY doc_id)
        |SELECT d0.doc_id,
        |  coalesce(a.n_spans, 0) AS n_spans,
        |  coalesce(a.dup_chars, 0) AS dup_chars,
        |  CAST(length(d0.text) - coalesce(a.dup_chars, 0) AS BIGINT)
        |    AS clean_len
        |FROM documents d0 LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "q_dup_gram_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(ts) AS word,
        |         generate_subscripts(ts, 1) AS pos
        |  FROM toks WHERE len(ts) >= 2),
        |g AS (
        |  SELECT DISTINCT a.doc_id, a.word || ' ' || b.word AS gram
        |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  UNION ALL
        |  SELECT doc_id, array_to_string(ts, ' ') AS gram
        |  FROM toks WHERE len(ts) < 2),
        |d AS (SELECT gram, count(*) AS df FROM g GROUP BY gram)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS dup_grams,
        |  round(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 4) AS dup_fraction
        |FROM g JOIN d USING (gram)
        |GROUP BY g.doc_id""".stripMargin,

    // multinomial NB quality classifier, trained and scored in SQL:
    // Laplace-smoothed per-token log-likelihood ratios + prior log-odds
    "q_quality_classifier" ->
      """WITH base AS (
        |  SELECT doc_id, text, (lang = 'en') AS y FROM documents),
        |tok AS (
        |  SELECT doc_id, y,
        |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
        |  FROM base),
        |counts AS (
        |  SELECT t,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS cpos,
        |    sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS cneg
        |  FROM tok GROUP BY t),
        |tot AS (
        |  SELECT sum(cpos) AS npos, sum(cneg) AS nneg, count(*) AS v
        |  FROM counts),
        |dtot AS (
        |  SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS dpos,
        |         sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS dneg
        |  FROM base),
        |w AS (
        |  SELECT t, ln((cpos + 1) / CAST(npos + v AS DOUBLE))
        |           - ln((cneg + 1) / CAST(nneg + v AS DOUBLE)) AS w
        |  FROM counts CROSS JOIN tot)
        |SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(sum(w.w) + ln(CAST(dtot.dpos + 1 AS DOUBLE)
        |    / (dtot.dneg + 1)), 4) AS nb_score,
        |  round(sum(w.w) + ln(CAST(dtot.dpos + 1 AS DOUBLE)
        |    / (dtot.dneg + 1)), 4) > 0 AS label_pred
        |FROM tok JOIN w USING (t) CROSS JOIN dtot
        |GROUP BY tok.doc_id, dtot.dpos, dtot.dneg""".stripMargin,

    // the media stub is deterministic byte math over the (ASCII) text:
    // resize keeps min(len, 64) bytes, frames tile them into <=4 chunks
    "q_multimodal_frames" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN strlen(text) <= 64 THEN strlen(text) ELSE 64 END
        |      AS rlen
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN rlen >= 4 THEN 4
        |            WHEN rlen >= 1 THEN rlen ELSE 1 END AS BIGINT)
        |    AS n_frames,
        |  CAST(rlen AS BIGINT) AS total_bytes
        |FROM m""".stripMargin,

    // feature j = mean of bytes at positions ≡ j (mod 8) / 255, rounded
    // through FLOAT to match the stub's Float output exactly
    // the decoded band-b feature of the synthetic PNG is exactly
    // ((doc_id + b) mod 256) / 255 — if ImageIO decode were lossy or
    // color-managed the float would drift and the hash would break
    "q_multimodal_features" ->
      """SELECT doc_id, 16 AS width, 8 AS height,
        |  round(((doc_id % 256) / 255.0)::FLOAT::DOUBLE, 4) AS f0,
        |  round((((doc_id + 7) % 256) / 255.0)::FLOAT::DOUBLE, 4) AS f7
        |FROM documents""".stripMargin,
    "q_multimodal_audio" ->
      """SELECT doc_id, 172::BIGINT AS n_bytes,
        |  round(((doc_id % 256) / 255.0)::FLOAT::DOUBLE, 4) AS f0,
        |  round((((doc_id + 3) % 256) / 255.0)::FLOAT::DOUBLE, 4) AS f3,
        |  round((((doc_id + 7) % 256) / 255.0)::FLOAT::DOUBLE, 4) AS f7
        |FROM documents""".stripMargin
  )
}
