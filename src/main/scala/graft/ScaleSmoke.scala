package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{IcebergExport, IcebergImport, LakeCatalog, LakeTable}
import graft.pipeline.PipelineRunner

/** Scale legs: the volume checks no test or bench runs. Each leg checks
  * its answers with `require` and returns a record, which `main` prints
  * as ONE JSON line — `leg`, `ok`, then the leg's fields in
  * load-independent units (rows, files, manifest entries, metadata
  * bytes, planned/total files), then wall seconds (`*_s`, `*_ms`).
  *
  *   - `pipeline [sfDir]`: raw → bronze → silver at volume;
  *   - `metadata-agg [sfDir]`: the manifest aggregate over a ~48k-entry
  *     commit;
  *   - `commit-depth [commits]`: per-commit metadata and cost at depth,
  *     then `expireSnapshots` reclaim;
  *   - `iceberg-depth [sfDir] [files]`: Iceberg export, rebuild from the
  *     exported files alone, and import planning at file depth.
  *
  * Usage: `runMain graft.ScaleSmoke [leg] [size…]` (leg `pipeline` and
  * each leg's default size when absent; README "Scale legs"). Exit 0
  * with `"ok": true`; 1 with `"ok": false` and the message when a check
  * fails; 2 and the leg list for an unknown leg. The harness gives each
  * leg a scratch directory, deletes it afterwards and restores every
  * session conf the leg set; a leg never stops the session.
  */
object ScaleSmoke {
  /** A leg's fields, in print order. */
  private type Record = Seq[(String, Any)]

  private final case class Leg(defaults: Seq[String],
      body: (SparkSession, Seq[String], String) => Record)

  private val Sf01 = "/root/testdata/sf0.1"

  private val legs: Map[String, Leg] = Map(
    "pipeline" -> Leg(Seq(Sf01), (s, a, w) => pipeline(s, a(0), w)),
    // sf0.1's 150k orders × 512 hash tasks × 100 partition values land
    // ~48k files in one commit
    "metadata-agg" -> Leg(Seq(Sf01), (s, a, w) => metadataAgg(s, a(0), w)),
    "commit-depth" -> Leg(Seq("5000"),
      (s, a, w) => commitDepth(s, a(0).toInt, w)),
    "iceberg-depth" -> Leg(Seq(Sf01, "500"),
      (s, a, w) => icebergDepth(s, a(0), a(1).toInt, w)))

  def main(args: Array[String]): Unit = {
    val (status, line) = run(args.toSeq, GraftSession("graft-scale",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt))
    (if (status == 2) System.err else System.out).println(line)
    sys.exit(status)
  }

  /** Runs leg `args(0)` (default `pipeline`) with sizes `args(1..)`
    * (the leg's defaults where absent) and returns (exit status, line):
    * 0 and the JSON record; 1 and an `"ok": false` record carrying the
    * failed `require`'s message; 2 and the leg list for an unknown leg
    * (the session is then never built). */
  def run(args: Seq[String], session: => SparkSession): (Int, String) = {
    val name = args.headOption.getOrElse("pipeline")
    legs.get(name) match {
      case None =>
        val known = legs.keys.toSeq.sorted.mkString(", ")
        (2, s"unknown leg '$name'; legs: $known")
      case Some(leg) =>
        val spark = session
        val sizes = leg.defaults.indices.map(i =>
          args.lift(i + 1).getOrElse(leg.defaults(i)))
        val work = Files.createTempDirectory(s"graft-scale-$name")
        val confs = spark.conf.getAll
        val result =
          try Right(leg.body(spark, sizes, work.toString))
          catch { case e: IllegalArgumentException => Left(e.getMessage) }
          finally {
            val now = spark.conf.getAll
            (now.keySet -- confs.keySet).foreach(spark.conf.unset)
            confs.foreach { case (k, v) =>
              if (!now.get(k).contains(v)) spark.conf.set(k, v) }
            org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
          }
        val head = Seq("leg" -> name, "ok" -> result.isRight)
        result.fold(msg => (1, json(head :+ ("error" -> msg))),
          rec => (0, json(head ++ rec)))
    }
  }

  private def json(rec: Record): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    rec.foreach {
      case (k, d: Double) => m.put(k, BigDecimal(d)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).bigDecimal)
      case (k, v) => m.put(k, v)
    }
    new ObjectMapper().writeValueAsString(m)
  }

  /** Wall seconds of `f`, with its result. */
  private def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime(); val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  private def dirBytes(p: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(p))
  }

  /** raw → bronze → silver at volume: synthesizes CDC-style tab-CSV
    * drops from the orders table (an insert drop of every order, then an
    * update drop touching every third key), replays them through
    * [[PipelineRunner]] — CSV inference, bronze append,
    * snapshot-incremental read, the dedup window and a COW merge — and
    * checks the end state: bronze append-only, silver keyed-unique,
    * updates win. */
  private def pipeline(spark: SparkSession, sfDir: String,
      work: String): Record = {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val n = orders.count()

    // CDC rows in the reference's raw schema: Op + business columns;
    // o_orderkey plays invoiceid, o_orderpriority plays the silver
    // partition column (destinationstate analog)
    def asCdc(df: DataFrame, op: String) = df.select(
      lit(op).as("Op"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .as("replicadmstimestamp"),
      col("o_orderkey").as("invoiceid"),
      col("o_custkey").as("itemid"),
      col("o_orderstatus").as("category"),
      round(col("o_totalprice"), 2).as("price"),
      lit(1).as("quantity"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
      col("o_orderpriority").as("destinationstate"),
      lit("Standard").as("shippingtype"),
      lit("smoke").as("referral"))

    def writeDrop(df: DataFrame, dir: String): Unit = {
      df.coalesce(4).write.mode("overwrite")
        .option("sep", "\t").option("header", "true").csv(dir)
      // move into the raw dir as the pipeline expects flat CSV drops
      val raw = Paths.get(s"$work/raw")
      Files.createDirectories(raw)
      val st = Files.list(Paths.get(dir))
      try st.filter(_.toString.endsWith(".csv"))
        .forEach { f =>
          Files.move(f, raw.resolve(f.getFileName),
            StandardCopyOption.REPLACE_EXISTING)
          raw.resolve(f.getFileName).toFile
            .setLastModified(System.currentTimeMillis())
        }
      finally st.close()
    }

    val cat = new LakeCatalog(spark, s"$work/warehouse")
    val runner = new PipelineRunner(spark, cat, s"$work/raw",
      s"$work/ckpt")

    val (insertSec, (b1, s1)) = timed {
      writeDrop(asCdc(orders, "I"), s"$work/stage1")
      runner.runOnce()
    }
    require(b1 == n && s1 == n, s"run1 expected $n/$n, got $b1/$s1")

    val updates = orders.where(col("o_orderkey") % 3 === 0)
      .withColumn("o_orderstatus", lit("UPDATED"))
    val nUpd = updates.count()
    // no sleep: same-tick drops are handled by the boundary-file names
    val (updateSec, (b2, s2)) = timed {
      writeDrop(asCdc(updates, "U"), s"$work/stage2")
      runner.runOnce()
    }
    require(b2 == nUpd && s2 == nUpd, s"run2 expected $nUpd, got $b2/$s2")

    val silverT = cat.loadTable("example_namespace", "silver_orders")
    val silver = silverT.scan()
    val silverN = silver.count()
    val updatedN = silver.where(col("category") === "UPDATED").count()
    val bronzeN = cat.loadTable("example_namespace", "bronze_orders")
      .scan().count()
    require(bronzeN == n + nUpd, "bronze must be append-only")
    require(silverN == n, "silver must stay keyed-unique")
    require(updatedN == nUpd, "updates must win in silver")
    Seq("inserts" -> n, "updates" -> nUpd, "bronze_rows" -> bronzeN,
      "silver_rows" -> silverN, "silver_updated_rows" -> updatedN,
      "silver_files" -> silverT.currentSnapshot.get.liveFiles.size,
      "insert_drop_s" -> insertSec, "update_drop_s" -> updateSec)
  }

  /** The metadata-aggregate rewrite at manifest scale: a ~48k-file
    * table (100 identity-partition values × 512 write tasks in ONE
    * commit — the small-files worst case a 100 TB date×source profile
    * accumulates), then the grouped GROUP BY partition aggregate and a
    * single-partition filtered probe, both answered by ManifestAggRule
    * from the manifest fold alone. Requires plans free of file scans
    * and answers equal to the aggregate over the raw rows. */
  private def metadataAgg(spark: SparkSession, sfDir: String,
      work: String): Record = {
    spark.conf.set("spark.sql.shuffle.partitions", "512")
    // AQE would helpfully coalesce the deliberate 512-way round-robin
    // and shrink the file count this leg exists to create
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"),
        (col("o_orderkey") % 100).as("grp"), col("o_totalprice"))
    val cat = new LakeCatalog(spark, s"$work/warehouse")
    cat.createNamespace("ns")
    cat.createTable("ns", "wide", orders.schema, partitionBy = Seq("grp"),
      properties = Map(LakeTable.PROP_AGG_COLUMNS -> "o_orderkey"))
    val t = cat.loadTable("ns", "wide")
    // hash-repartition BY KEY so every task is a uniform sample of all
    // 100 groups and the dynamic-partition write fans out maximally
    val (appendSec, _) = timed(
      t.append(orders.repartition(512, col("o_orderkey"))))
    val entries = t.files.count()

    /** Best-of-3 wall of `sql` through the catalog, the driver heap the
      * cold run retained, and its rows as (first column, the rest). */
    def metadataAnswer(sql: String)
        : (Double, Double, Array[(Long, Seq[Long])]) = {
      def once() = {
        val df = cat.sql("ns", sql)
        val (sec, rows) = timed(df.collect())
        val plan = df.queryExecution.executedPlan.toString
        require(!plan.contains("FileSourceScan") &&
          !plan.contains("Scan parquet"),
          s"metadata aggregate planned a file scan: $sql")
        (sec, rows)
      }
      val rt = Runtime.getRuntime
      // after a GC: retained heap, not transient fold garbage
      def usedHeap() = { System.gc(); rt.totalMemory() - rt.freeMemory() }
      val heap0 = usedHeap()
      val (coldSec, rows) = once()
      val heapMb = (usedHeap() - heap0) / 1e6
      ((coldSec +: Seq.fill(2)(once()._1)).min, heapMb,
        rows.map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)))
    }

    val (groupedSec, heapMb, grouped) = metadataAnswer(
      """SELECT grp, count(*) AS n, min(o_orderkey) AS min_key,
        |  max(o_orderkey) AS max_key, count(o_totalprice) AS n_price,
        |  sum(o_orderkey) AS sum_key
        |FROM wide GROUP BY grp""".stripMargin)
    require(grouped.length == 100,
      s"expected 100 groups, got ${grouped.length}")
    val groupedTruth = orders.groupBy("grp").agg(count(lit(1)),
        min("o_orderkey"), max("o_orderkey"), count("o_totalprice"),
        sum("o_orderkey"))
      .collect().map(r => r.getLong(0) -> (1 to 5).map(r.getLong))
    require(grouped.toMap == groupedTruth.toMap,
      "metadata answer != ground truth")

    // the single-partition freshness probe: the split proof walks all
    // entries but folds only the matching ~1% of files
    val (filteredSec, _, filtered) = metadataAnswer(
      """SELECT count(*) AS n, min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM wide WHERE grp = 42""".stripMargin)
    // contrast + ground truth: the same probe as a real scan of the raw
    // fixture parquet
    val (rawSec, raw) = timed(orders.where(col("grp") === 42)
      .agg(count(lit(1)), min("o_orderkey"), max("o_orderkey")).head())
    val f = filtered.head
    require(f._1 +: f._2 == (0 until 3).map(raw.getLong),
      "filtered metadata answer != ground truth")
    Seq("manifest_entries" -> entries, "groups" -> grouped.length,
      "filtered_rows" -> f._1, "driver_heap_delta_mb" -> heapMb,
      "append_s" -> appendSec, "grouped_best_s" -> groupedSec,
      "filtered_best_s" -> filteredSec, "raw_scan_filtered_s" -> rawSec)
  }

  /** Metadata at COMMIT DEPTH: `commits` commits on one table — the
    * month-of-micro-batches shape. Each commit arrives via `addFiles` of
    * one pre-written file (driver-only rename + footer read + commit, no
    * per-commit Spark job), so the loop measures the METADATA path.
    * Requires:
    *   - per-commit cost stays O(delta) as history deepens (chunked
    *     manifests write one new chunk per commit, never rewrite the
    *     past; last-decile median ≤ 3× first-decile median),
    *   - a stats-pruned point scan finds its row at depth,
    *   - `.history` / `.snapshots` scans stay sub-second,
    *   - `expireSnapshots` + chunk GC reclaims ≥ 60% of the metadata
    *     bytes without touching live data. */
  private def commitDepth(spark: SparkSession, commits: Int,
      work: String): Record = {
    require(commits >= 20, s"commit-depth needs >= 20 commits, got $commits")
    // one row per future commit, one parquet file per drop dir, ONE
    // Spark job (partitionBy carves the dirs; the drop column is
    // duplicated so the data file itself still carries every table
    // column — the per-footer import gate requires it)
    spark.range(commits.toLong).select(col("id"),
        (col("id") % 97).cast("double").as("v"),
        col("id").as("drop"))
      .coalesce(1).write.partitionBy("drop").parquet(s"$work/drops")
    def dropDir(i: Int) = s"$work/drops/drop=$i"
    val schema = spark.read.parquet(dropDir(0)).schema
    val lt = LakeTable.create(spark, s"$work/t", schema)
    val times = (0 until commits).map(i => timed(lt.addFiles(dropDir(i)))._1)
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val dec = commits / 10
    val first = median(times.slice(dec / 2, dec)) // skip JVM warm-up
    val last = median(times.takeRight(dec))
    require(last <= first * 3.0,
      f"commit cost grew with history: $first%.4f -> $last%.4f s")
    val metaBytes = dirBytes(s"$work/t/metadata")
    val (scanSec, hit) = timed(
      lt.scan(col("id") === (commits / 2).toLong).count())
    require(hit == 1L, s"point scan at depth found $hit rows")
    // the first metadata view pays the one-time snaplog reconciliation
    // (reads every v-json the cache is missing, then persists the
    // summaries); steady-state reads are one small file
    val (rebuildSec, _) = timed(lt.history.count())
    val (histSec, nHist) = timed(lt.history.count())
    val (snapSec, nSnap) = timed(lt.snapshotsTable.count())
    require(histSec < 1.0 && snapSec < 1.0,
      f"metadata scans not sub-second: $histSec%.2f / $snapSec%.2f")
    // expiry + GC: metadata bytes shrink, data stays
    val (expireSec, _) = timed(lt.expireSnapshots(1))
    val metaAfter = dirBytes(s"$work/t/metadata")
    require(metaAfter <= metaBytes * 2 / 5,
      s"expiry reclaimed too little: $metaBytes -> $metaAfter")
    val rows = lt.countRows()
    require(rows == commits.toLong, s"$rows live rows after expiry")
    val hit2 = lt.scan(col("id") === (commits / 4).toLong).count()
    require(hit2 == 1L, s"post-expiry point scan found $hit2 rows")
    Seq("commits" -> commits, "history_rows" -> nHist,
      "snapshots_rows" -> nSnap, "metadata_bytes" -> metaBytes,
      "metadata_bytes_per_commit" -> metaBytes / commits,
      "metadata_bytes_after_expire" -> metaAfter, "live_rows" -> rows,
      "commits_s" -> times.sum, "first_decile_commit_ms" -> first * 1000,
      "last_decile_commit_ms" -> last * 1000, "point_scan_s" -> scanSec,
      "snaplog_rebuild_s" -> rebuildSec, "history_s" -> histSec,
      "snapshots_s" -> snapSec, "expire_s" -> expireSec)
  }

  /** Iceberg interop at FILE depth: a `files`-file MOR table,
    * range-partitioned by key so per-file bounds are selective, with
    * every kind of outstanding delete state (equality keys, a
    * consolidated deletion vector, loose position files). It is
    * exported, rebuilt from the exported files alone, and loaded back
    * through [[IcebergImport]]. Requires: the rebuild and the import's
    * full scan equal the governed scan, every imported entry carries
    * bounds, and a 1% key-range predicate's pruned scan equals the
    * filtered full scan. The driver costs scale O(files): one manifest
    * entry each, no data I/O beyond the delete-artifact rewrites. */
  private def icebergDepth(spark: SparkSession, sfDir: String,
      files: Int, work: String): Record = {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val lt = LakeTable.create(spark, s"$work/t", orders.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    lt.append(orders.repartitionByRange(files, col("o_orderkey")))
    lt.deleteByKeys(orders.where(col("o_orderkey") % 101 === 5)
      .select("o_orderkey"), Seq("o_orderkey"))
    def deleteKeys(keys: Seq[Long]) =
      lt.delete(col("o_orderkey").isin(keys: _*))
    deleteKeys((1 to 10).map(i => (i * 31 + 2).toLong))
    lt.consolidateDeleteVectors()
    deleteKeys((1 to 5).map(i => (i * 97 + 4).toLong))
    val s = lt.currentSnapshot.get
    val expect = lt.scan().count()

    val (exportSec, metaPath) = timed(
      IcebergExport.export(lt, s"$work/ice"))
    val conf = spark.sessionState.newHadoopConf()
    // rebuild from the exported artifacts alone: data files by path,
    // position deletes by (file tail, row index), equality deletes by
    // key below their sequence number
    val (rebuildSec, rebuilt) = timed {
      val entries = IcebergExport.readEntries(metaPath, conf)
      require(entries.size == s.liveFiles.size, "entry per live file")
      def tailOf(c: Column) = regexp_extract(c, "^(?:.*/)?(data/.+)$", 1)
      import spark.implicits._
      val seqDf = entries.map(e =>
          (e._1.replaceFirst("^(?:.*/)?(?=data/)", ""), e._4))
        .toDF("__f", "__seq")
      var cur = spark.read.parquet(entries.map(_._1): _*)
        .select(col("o_orderkey"),
          tailOf(col("_metadata.file_path")).as("__f"),
          col("_metadata.row_index").as("__p"))
        .join(seqDf, Seq("__f"))
      IcebergExport.readDeleteEntries(metaPath, conf).foreach {
        case (uri, _) =>
          val dels = spark.read.parquet(uri)
            .select(tailOf(col("file_path")).as("__f"),
              col("pos").as("__p"))
          cur = cur.join(dels, Seq("__f", "__p"), "left_anti")
      }
      IcebergExport.readEqualityDeleteEntries(metaPath, conf).foreach {
        case (uri, _, seq, _) =>
          val keys = spark.read.parquet(uri)
            .select(col("o_orderkey").as("__k"))
          cur = cur.join(keys, cur("o_orderkey") === col("__k") &&
            cur("__seq") < lit(seq), "left_anti")
      }
      cur.count()
    }
    require(rebuilt == expect,
      s"rebuild from exported files diverged: $rebuilt vs $expect")

    val (loadSec, tm) = timed(IcebergImport.load(metaPath, conf))
    require(tm.dataEntries.forall(_.stats.nonEmpty), "bounds decoded")
    val (fullSec, full) = timed(IcebergImport.scan(spark, metaPath).count())
    require(full == expect, s"import scan diverged: $full vs $expect")

    val keyMax = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    val lo = keyMax / 2; val hi = keyMax / 2 + keyMax / 100
    val pred = col("o_orderkey") >= lo && col("o_orderkey") <= hi
    val planned = IcebergImport.pruneEntries(spark, tm, pred).size
    val (prunedSec, prunedRows) = timed(
      IcebergImport.scanWhere(spark, metaPath, pred).count())
    val (unprunedSec, unprunedRows) = timed(
      IcebergImport.scan(spark, metaPath).where(pred).count())
    require(prunedRows == unprunedRows,
      s"pruned scan diverged: $prunedRows vs $unprunedRows")
    Seq("rows" -> expect, "data_files" -> s.liveFiles.size,
      "equality_delete_files" -> s.deleteFiles.size,
      "position_delete_files" -> s.posDeleteFiles.size,
      "dv_files" -> s.dvFiles.size,
      "export_bytes" -> dirBytes(s"$work/ice"),
      "import_data_entries" -> tm.dataEntries.size,
      "import_delete_entries" -> tm.deleteEntries.size,
      "planned_files" -> planned, "total_files" -> tm.dataEntries.size,
      "pruned_rows" -> prunedRows,
      "export_s" -> exportSec, "rebuild_s" -> rebuildSec,
      "import_load_s" -> loadSec, "full_scan_s" -> fullSec,
      "pruned_scan_s" -> prunedSec, "unpruned_scan_s" -> unprunedSec)
  }
}
