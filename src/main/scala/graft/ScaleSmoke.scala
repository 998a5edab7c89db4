package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.lake.LakeCatalog
import graft.pipeline.PipelineRunner

/** Volume smoke for the medallion pipeline: synthesizes CDC-style
  * tab-CSV drops from the orders table (insert drop + an update drop
  * touching ~1/3 of the keys), replays them through
  * raw → bronze → silver, and checks the end state against the
  * DataFrame-computed expectation.
  *
  * Usage: runMain graft.ScaleSmoke [sfDir] [workDir]
  * At sf0.1 this pushes ~150k inserts + ~50k updates through CSV
  * inference, bronze append, snapshot-incremental read, the dedup
  * window, and a COW merge over ~57 partitions — the pipeline's
  * behavior at 4 orders of magnitude above the reference fixture.
  *
  * `runMain graft.ScaleSmoke metadata-agg [sfDir]` instead smokes the
  * metadata-aggregate rewrite at manifest scale: ~50k file entries in
  * one table (the 100 TB date×source profile shape), then times the
  * grouped GROUP BY partition answer and proves it planned zero file
  * scans. Results recorded in PERF.md.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("metadata-agg")) {
      // sf0.1's 150k orders × 512 hash tasks × 100 partition values
      // lands ~48k files in one commit; sf0.01's 15k rows top out ~13k
      metadataAggSmoke(args.lift(1).getOrElse("/root/testdata/sf0.1"))
      return
    }
    if (args.headOption.contains("mv-burst")) {
      mvBurstSmoke(args.lift(1).getOrElse("/root/testdata/sf0.01"),
        args.lift(2).map(_.toInt).getOrElse(100))
      return
    }
    if (args.headOption.contains("txn-burst")) {
      txnBurstSmoke(args.lift(1).map(_.toInt).getOrElse(50))
      return
    }
    if (args.headOption.contains("funnel")) {
      funnelSmoke(args.lift(1).map(_.toLong).getOrElse(10000000L))
      return
    }
    if (args.headOption.contains("lineage")) {
      lineageSmoke(args.lift(1).getOrElse("/root/testdata/sf0.1"))
      return
    }
    if (args.headOption.contains("add-files")) {
      addFilesSmoke(args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).map(_.toInt).getOrElse(500))
      return
    }
    if (args.headOption.contains("gold-inc")) {
      goldIncSmoke(args.lift(1).getOrElse("/root/testdata/sf0.1"))
      return
    }
    if (args.headOption.contains("commit-depth")) {
      commitDepthSmoke(args.lift(1).map(_.toInt).getOrElse(5000))
      return
    }
    if (args.headOption.contains("fs-probe")) {
      fsProbe()
      return
    }
    if (args.headOption.contains("replace-where")) {
      replaceWhereSmoke(args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).map(_.toInt).getOrElse(20))
      return
    }
    if (args.headOption.contains("stream-probe")) {
      streamProbe(args.lift(1).map(_.toInt).getOrElse(200))
      return
    }
    if (args.headOption.contains("export")) {
      exportSmoke(args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).map(_.toInt).getOrElse(500))
      return
    }
    if (args.headOption.contains("publish")) {
      publishSmoke(args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).map(_.toInt).getOrElse(20))
      return
    }
    if (args.headOption.contains("import")) {
      importSmoke(args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).map(_.toInt).getOrElse(500))
      return
    }
    if (args.headOption.contains("dv")) {
      dvSmoke(args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).map(_.toInt).getOrElse(200))
      return
    }
    if (args.headOption.contains("delta-publish")) {
      deltaPublishSmoke(args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).map(_.toInt).getOrElse(20))
      return
    }
    if (args.headOption.contains("scd2")) {
      scd2Smoke(args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).map(_.toInt).getOrElse(20))
      return
    }
    if (args.headOption.contains("dedup-inc")) {
      dedupIncSmoke(args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).map(_.toInt).getOrElse(10))
      return
    }
    if (args.headOption.contains("substr-skew")) {
      substrSkewSmoke(args.lift(1).map(_.toLong).getOrElse(100000L))
      return
    }
    if (args.headOption.contains("delta-plan")) {
      deltaPlanSmoke(args.lift(1).map(_.toInt).getOrElse(100000))
      return
    }
    if (args.headOption.contains("dv-import")) {
      dvImportSmoke(args.lift(1).map(_.toInt).getOrElse(100000))
      return
    }
    if (args.headOption.contains("cdf-publish")) {
      cdfPublishSmoke(args.lift(1).getOrElse("/root/testdata/sf0.1"))
      return
    }
    if (args.headOption.contains("dedup-corpus")) {
      dedupCorpusSmoke(args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).map(_.toInt).getOrElse(10))
      return
    }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val workDir = args.lift(1).getOrElse(
      Files.createTempDirectory("graft-scale").toString)
    val spark = smokeSession("graft-scale-smoke")

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val n = orders.count()

    // CDC rows in the reference's raw schema: Op + business columns;
    // o_orderkey plays invoiceid, o_orderpriority plays the silver
    // partition column (destinationstate analog)
    def asCdc(df: org.apache.spark.sql.DataFrame, op: String) = df.select(
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

    def writeDrop(df: org.apache.spark.sql.DataFrame, dir: String): Unit = {
      df.coalesce(4).write.mode("overwrite")
        .option("sep", "\t").option("header", "true").csv(dir)
      // move into the raw dir as the pipeline expects flat CSV drops
      val raw = Paths.get(s"$workDir/raw")
      Files.createDirectories(raw)
      val st = Files.list(Paths.get(dir))
      try st.filter(_.toString.endsWith(".csv"))
        .forEach { f =>
          Files.move(f, raw.resolve(f.getFileName),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          raw.resolve(f.getFileName).toFile
            .setLastModified(System.currentTimeMillis())
        }
      finally st.close()
    }

    val cat = new LakeCatalog(spark, s"$workDir/warehouse")
    val runner = new PipelineRunner(spark, cat, s"$workDir/raw",
      s"$workDir/ckpt")

    println(s"[scale] drop 1: $n inserts")
    var t0 = System.nanoTime()
    writeDrop(asCdc(orders, "I"), s"$workDir/stage1")
    val (b1, s1) = runner.runOnce()
    println(f"[scale] run 1: bronze +$b1, silver $s1 in ${(System.nanoTime()-t0)/1e9}%.1f s")
    require(b1 == n && s1 == n, s"run1 expected $n/$n, got $b1/$s1")

    val updates = orders.where(col("o_orderkey") % 3 === 0)
      .withColumn("o_orderstatus", lit("UPDATED"))
    val nUpd = updates.count()
    println(s"[scale] drop 2: $nUpd updates")
    // no sleep: same-tick drops are handled by the boundary-file names
    t0 = System.nanoTime()
    writeDrop(asCdc(updates, "U"), s"$workDir/stage2")
    val (b2, s2) = runner.runOnce()
    println(f"[scale] run 2: bronze +$b2, silver $s2 in ${(System.nanoTime()-t0)/1e9}%.1f s")
    require(b2 == nUpd && s2 == nUpd, s"run2 expected $nUpd, got $b2/$s2")

    val silver = cat.loadTable("example_namespace", "silver_orders").scan()
    val silverN = silver.count()
    val updatedN = silver.where(col("category") === "UPDATED").count()
    val bronzeN = cat.loadTable("example_namespace", "bronze_orders")
      .scan().count()
    println(s"[scale] end state: bronze=$bronzeN silver=$silverN updated=$updatedN")
    require(bronzeN == n + nUpd, "bronze must be append-only")
    require(silverN == n, "silver must stay keyed-unique")
    require(updatedN == nUpd, "updates must win in silver")
    println("[scale] PASS")
    spark.stop()
  }

  /** Manifest-scale smoke for the metadata-aggregate rewrite: build a
    * ~50k-file table (100 identity-partition values × 512 write tasks,
    * ONE commit — the small-files worst case a 100 TB date×source
    * profile would accumulate), then measure the grouped
    * GROUP BY partition aggregate that ManifestAggRule answers from
    * the manifest fold alone. Asserts the plan holds no file scan and
    * reports wall time + driver-heap delta per run. */
  private def metadataAggSmoke(sfDir: String): Unit = {
    val spark = smokeSession("graft-magg-smoke")
    spark.conf.set("spark.sql.shuffle.partitions", "512")
    // AQE would helpfully coalesce the deliberate 512-way round-robin
    // and shrink the file count this smoke exists to create
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val work = Files.createTempDirectory("graft-magg-scale").toString

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"),
        (col("o_orderkey") % 100).as("grp"), col("o_totalprice"))
    val cat = new LakeCatalog(spark, s"$work/warehouse")
    cat.createNamespace("ns")
    cat.createTable("ns", "wide", orders.schema, partitionBy = Seq("grp"),
      properties = Map(
        graft.lake.LakeTable.PROP_AGG_COLUMNS -> "o_orderkey"))
    val t = cat.loadTable("ns", "wide")
    println("[magg] writing the 512-task × 100-partition append…")
    var t0 = System.nanoTime()
    // hash-repartition BY KEY so every task is a uniform sample of all
    // 100 groups and the dynamic-partition write fans out maximally
    t.append(orders.repartition(512, col("o_orderkey")))
    val entries = t.files.count()
    println(f"[magg] one commit, $entries manifest entries " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val sql = """SELECT grp, count(*) AS n, min(o_orderkey) AS min_key,
                |  max(o_orderkey) AS max_key,
                |  count(o_totalprice) AS n_price,
                |  sum(o_orderkey) AS sum_key
                |FROM wide GROUP BY grp""".stripMargin
    val rt = Runtime.getRuntime
    (1 to 3).foreach { run =>
      System.gc()
      val heap0 = rt.totalMemory() - rt.freeMemory()
      t0 = System.nanoTime()
      val df = cat.sql("ns", sql)
      val rows = df.collect()
      val secs = (System.nanoTime() - t0) / 1e9
      System.gc() // retained delta, not transient fold garbage
      val heapMb = (rt.totalMemory() - rt.freeMemory() - heap0) / 1e6
      val plan = df.queryExecution.executedPlan.toString
      require(!plan.contains("FileSourceScan") && !plan.contains("Scan parquet"),
        "grouped metadata aggregate planned a file scan")
      require(rows.length == 100, s"expected 100 groups, got ${rows.length}")
      println(f"[magg] run $run: ${rows.length} groups in $secs%.3f s " +
        f"(driver-heap delta $heapMb%.0f MB, plan = LocalTableScan only)")
    }
    // ground truth on the raw rows: the fold must not just be fast
    val truth = orders.groupBy("grp").agg(count(lit(1)).as("n"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
        count("o_totalprice").as("n_price"),
        sum("o_orderkey").as("sum_key"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val got = cat.sql("ns", sql).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    require(got == truth, "metadata answer != ground truth")
    println("[magg] PASS (values equal ground truth)")

    // FILTERED leg: the single-partition freshness probe — the split
    // proof walks all entries but folds only the matching ~1% of files
    val fsql = """SELECT count(*) AS n, min(o_orderkey) AS mn,
                 |  max(o_orderkey) AS mx FROM wide
                 |WHERE grp = 42""".stripMargin
    (1 to 3).foreach { run =>
      t0 = System.nanoTime()
      val df = cat.sql("ns", fsql)
      val row = df.collect().head
      val secs = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.executedPlan.toString
      require(!plan.contains("FileSourceScan") &&
        !plan.contains("Scan parquet"),
        "filtered metadata aggregate planned a file scan")
      println(f"[magg] filtered run $run: n=${row.getLong(0)} " +
        f"in $secs%.3f s (plan = LocalTableScan only)")
    }
    // contrast + ground truth: the same probe as a real scan of the
    // raw fixture parquet
    t0 = System.nanoTime()
    val ft = orders.where(col("grp") === 42).agg(count(lit(1)).as("n"),
      min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
      .collect().head
    println(f"[magg] filtered contrast (raw parquet scan): " +
      f"${(System.nanoTime() - t0) / 1e9}%.3f s")
    val fr = cat.sql("ns", fsql).collect().head
    require((fr.getLong(0), fr.getLong(1), fr.getLong(2)) ==
      (ft.getLong(0), ft.getLong(1), ft.getLong(2)),
      "filtered metadata answer != ground truth")
    println("[magg] filtered PASS (values equal ground truth)")
    spark.stop()
  }

  private def smokeSession(name: String): SparkSession =
    GraftSession(name, sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)

  /** Wall seconds of `f`, with its result. */
  private def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime(); val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** `add-files [sfDir] [nFiles]`: import cost at file-count scale —
    * the import is renames + parallel footer profiling + ONE commit,
    * so wall time must track file COUNT (driver metadata ops), never
    * data volume. Writes `nFiles` external files from orders, imports
    * them, and checks row conservation + immediate stats pruning. */
  private def addFilesSmoke(sfDir: String, nFiles: Int): Unit = {
    val spark = smokeSession("graft-addfiles-smoke")
    val work = Files.createTempDirectory("graft-addf").toString
    import graft.lake.LakeTable
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val n = orders.count()
    orders.repartition(nFiles).write.mode("overwrite")
      .parquet(s"$work/ext")
    val lt = LakeTable.create(spark, s"$work/t", orders.schema)
    val t0 = System.nanoTime()
    val (snap, added) = lt.addFiles(s"$work/ext")
    val importSec = (System.nanoTime() - t0) / 1e9
    println(f"[add-files] $added files / $n%,d rows imported in " +
      f"$importSec%.2f s (snapshot $snap) — " +
      f"${importSec / added * 1000}%.1f ms/file")
    assert(added == nFiles, s"$added vs $nFiles")
    assert(lt.countRows() == n)
    // footer stats landed: a point read plans a file subset
    val probe = lt.scan(col("o_orderkey") === 7L)
    assert(probe.count() >= 0) // planned + executable
    println("[add-files] OK")
  }

  /** Row-lineage overhead at volume: identical append+merge+compact
    * sequences on a lineage table vs a plain one — append-side
    * overhead must be driver arithmetic only (per-file first_row_id
    * blocks, zero per-row work), the rewrite side pays one extra
    * int64 column in the rewritten files. Asserts id stability across
    * the whole sequence. */
  private def lineageSmoke(sfDir: String): Unit = {
    val spark = smokeSession("graft-lineage-smoke")
    val work = Files.createTempDirectory("graft-lineage").toString
    import graft.lake.LakeTable
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val n = orders.count()
    def sequence(root: String, props: Map[String, String]): Double = {
      val lt = LakeTable.create(spark, root, orders.schema,
        properties = props)
      val t0 = System.nanoTime()
      (0 until 4).foreach(i =>
        lt.append(orders.where(col("o_orderkey") % 4 === i)))
      lt.merge(orders.where(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderstatus", lit("U")), Seq("o_orderkey"))
      lt.delete(col("o_orderkey") % 13 === 0)
      lt.compact(1)
      (System.nanoTime() - t0) / 1e9
    }
    val plainSec = sequence(s"$work/plain", Map.empty)
    val lt = s"$work/lineage"
    val lineageSec = sequence(lt,
      Map(LakeTable.PROP_ROW_LINEAGE -> "true"))
    println(f"[lineage] $n%,d rows: plain $plainSec%.2f s, " +
      f"lineage $lineageSec%.2f s (${lineageSec / plainSec}%.2fx)")
    // id stability through merge+delete+compact: unique ids, one per
    // surviving row
    val t = LakeTable.load(spark, lt)
    val ids = t.scanWithLineage()
      .agg(count(lit(1)).as("rows"),
        countDistinct(col(LakeTable.ROW_ID_COL)).as("ids"))
      .head()
    println(s"[lineage] rows=${ids.getLong(0)} distinct ids=" +
      s"${ids.getLong(1)}")
    assert(ids.getLong(0) == ids.getLong(1), "duplicate row ids")
    val expect = orders.where(col("o_orderkey") % 13 =!= 0).count()
    assert(ids.getLong(0) == expect, s"${ids.getLong(0)} vs $expect")
    println("[lineage] OK")
  }

  /** `runMain graft.ScaleSmoke mv-burst [sfDir] [commits]`: pushes
    * ~`commits` CDC mutations through [[graft.lake.IncrementalMv]]
    * refresh and proves refresh cost tracks the DELTA, not the table:
    * the per-refresh time of the last quarter of the burst must stay
    * within noise of the first quarter (each refresh merges ~0.5% of
    * the keys), and the final MV must equal the from-scratch
    * aggregate exactly. Results recorded in PERF.md. */
  private def mvBurstSmoke(sfDir: String, commits: Int): Unit = {
    val spark = smokeSession("graft-mv-burst")
    val work = Files.createTempDirectory("graft-mv-burst").toString
    import graft.lake.{IncrementalMv, LakeTable}
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
    val src = LakeTable.create(spark, s"$work/src", orders.schema)
    val tgt = LakeTable.create(spark, s"$work/tgt",
      IncrementalMv.targetSchema(src, Seq("o_orderpriority")))
    def refresh(): Double = {
      val t0 = System.nanoTime()
      IncrementalMv.refresh(src, tgt, Seq("o_orderpriority"),
        "o_totalprice")
      (System.nanoTime() - t0) / 1e9
    }
    val n = orders.count()
    println(s"[mv-burst] seed: $n rows, then $commits CDC refreshes")
    src.append(orders)
    val seedSec = refresh()
    println(f"[mv-burst] seed refresh: $seedSec%.2f s ($n rows)")
    val times = (1 to commits).map { i =>
      // each commit touches ~0.5% of keys (one modulus class of 200),
      // alternating price-bump merges and deletes to exercise both
      // signed-delta directions; modulus spread keeps deltas disjoint
      val slice = orders.where(col("o_orderkey") % 200 === i % 200)
      if (i % 10 == 0)
        src.delete(col("o_orderkey") % 2000 === (i * 7) % 2000)
      else
        src.merge(slice.withColumn("o_totalprice",
          col("o_totalprice") + i), Seq("o_orderkey"))
      val s = refresh()
      if (i % 20 == 0) println(f"[mv-burst] refresh $i: $s%.2f s")
      s
    }
    val firstQ = times.slice(5, commits / 4).sorted
    val lastQ = times.takeRight(commits / 4).sorted
    def median(xs: Seq[Double]) = xs(xs.size / 2)
    println(f"[mv-burst] per-refresh median: first-quarter " +
      f"${median(firstQ)}%.2f s, last-quarter ${median(lastQ)}%.2f s " +
      f"(${commits} commits, head snapshot ${src.currentSnapshotId.get})")
    require(median(lastQ) <= median(firstQ) * 3.0,
      "refresh cost grew with table HISTORY — should track delta only")
    // exactness: the MV after 100 incremental refreshes equals the
    // from-scratch aggregate of the source's final state
    val truth = src.scan().groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), sum("o_totalprice").as("total"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), math.round(r.getDouble(2) * 100))).toMap
    val got = tgt.scan().collect().map(r => r.getString(0) ->
      (r.getLong(1), math.round(r.getDouble(2) * 100))).toMap
    require(got == truth, s"MV diverged from ground truth")
    println("[mv-burst] PASS (MV exact after burst)")
    spark.stop()
  }

  /** `runMain graft.ScaleSmoke txn-burst [commits]`: a burst of
    * multi-table transactions (versioned watermarks) with a TORN
    * publish injected mid-burst; recovery must roll it forward and
    * the burst must end consistent — equal row counts in every
    * participant, zero pending markers, ONE stable watermark property
    * (no per-commit metadata accretion). */
  private def txnBurstSmoke(commits: Int): Unit = {
    val spark = smokeSession("graft-txn-burst")
    import spark.implicits._
    val work = Files.createTempDirectory("graft-txn-burst").toString
    import graft.lake.LakeTable
    val cat = new LakeCatalog(spark, s"$work/warehouse")
    cat.createNamespace("ns")
    val schema = Seq((0L, 0L)).toDF("id", "batch").schema
    Seq("t1", "t2", "t3").foreach(cat.createTable("ns", _, schema))
    val times = (0 until commits).map { i =>
      val t0 = System.nanoTime()
      if (i == commits / 2) {
        // torn publish: stage + marker + publish ONE of three tables,
        // then "crash" — bootstrap recovery must finish the other two
        val id = s"burst-$i"
        Seq("t1", "t2", "t3").foreach { t =>
          cat.loadTable("ns", t).appendToBranch(s"txn-$id",
            Seq((i.toLong * 10, i.toLong)).toDF("id", "batch"))
        }
        val fs = new org.apache.hadoop.fs.Path(cat.warehouse)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val marker = new org.apache.hadoop.fs.Path(
          cat.warehouse, s"ns/_txns/$id.json")
        fs.mkdirs(marker.getParent)
        val out = fs.create(marker, false)
        out.write((s"""{"id":"$id","app":"burst","version":$i,""" +
          s""""tables":["t1","t2","t3"]}""").getBytes("UTF-8"))
        out.close()
        cat.loadTable("ns", "t1").fastForwardBranch(s"txn-$id",
          txn = Some(("burst", i.toLong)))
        println(s"[txn-burst] injected torn publish at commit $i")
        val rec = cat.recoverTransactions("ns")
        require(rec == Seq(id), s"recovery saw $rec")
      } else {
        cat.transactionVersioned("ns", "burst", i.toLong) { txn =>
          Seq("t1", "t2", "t3").foreach { t =>
            txn.append(t, Seq((i.toLong * 10, i.toLong))
              .toDF("id", "batch"))
          }
        }
      }
      (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val firstQ = times.slice(2, commits / 4)
    val lastQ = times.takeRight(commits / 4)
    println(f"[txn-burst] per-txn median: first-quarter " +
      f"${median(firstQ)}%.2f s, last-quarter ${median(lastQ)}%.2f s")
    require(median(lastQ) <= median(firstQ) * 3.0,
      "txn cost grew with history — commit should write O(delta)")
    val counts = Seq("t1", "t2", "t3").map(t =>
      cat.loadTable("ns", t).scan().count())
    require(counts.distinct.size == 1 && counts.head == commits.toLong,
      s"participants diverged: $counts (expected $commits each)")
    require(cat.pendingTransactions("ns").isEmpty, "markers left behind")
    val wmarks = cat.loadTable("ns", "t1").properties.keys
      .filter(_.startsWith("txn.")).toSeq
    require(wmarks == Seq("txn.burst"),
      s"watermark accretion: $wmarks (expected exactly txn.burst)")
    println(s"[txn-burst] PASS ($commits atomic commits, torn publish " +
      "recovered, one stable watermark)")
    spark.stop()
  }

  /** `runMain graft.ScaleSmoke funnel [events]`: the 4-step windowed
    * funnel over ~10M synthetic events — proves the per-step join
    * chain stays shuffle-bounded (exchanges ∝ steps, never events)
    * and measures wall time at 100× the bench fixture. */
  private def funnelSmoke(nEvents: Long): Unit = {
    val spark = smokeSession("graft-funnel-smoke")
    val steps = Seq("view", "cart", "checkout", "purchase")
    // ~nEvents events over nEvents/20 users; step types with
    // decreasing frequency + noise types, timestamps increasing per
    // user so real conversions exist
    val ev = spark.range(nEvents).select(
      (col("id") % (nEvents / 20)).as("user_id"),
      element_at(
        array((steps ++ Seq("noise1", "noise2")).map(lit): _*),
        (pmod(xxhash64(col("id")), lit(6)) + 1).cast("int"))
        .as("event_type"),
      (col("id") / (nEvents / 20)).cast("long").as("ts_us"))
      .persist()
    println(s"[funnel] ${ev.count()} events, " +
      s"${nEvents / 20} users, 4 steps")
    val t0 = System.nanoTime()
    val result = graft.operators.Funnel.funnel(ev, steps,
      col("ts_us"), maxSpan = 100L)
    val rows = result.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    rows.foreach(r => println(s"[funnel]   $r"))
    // plan audit: the chain is steps-1 joins; exchanges must be a
    // small constant per step (shuffle-bounded), never data-dependent
    val chain = graft.operators.Funnel.userFunnel(ev, steps,
      col("ts_us"), maxSpan = 100L)
    val plan = chain.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    println(f"[funnel] $secs%.1f s end-to-end; $exchanges exchanges " +
      s"for ${steps.size} steps in the user-chain plan")
    require(exchanges <= steps.size * 4,
      s"funnel plan shuffles grew beyond steps-bounded: $exchanges")
    require(rows.length == steps.size && rows.head.getLong(2) > 0,
      "funnel produced no step-1 users")
    ev.unpersist()
    println("[funnel] PASS")
    spark.stop()
  }

  /** Metadata behavior at COMMIT DEPTH: thousands of commits on one
    * table — the month-of-micro-batches shape. Each commit arrives via
    * `addFiles` of one pre-written file (driver-only rename + footer
    * read + commit — no per-commit Spark job, so the loop measures the
    * METADATA path, which is the thing under test). Asserts:
    *   - per-commit cost stays O(delta) as history deepens (chunked
    *     manifests write one new chunk per commit, never rewrite the
    *     past; last-decile median ≤ 3× first-decile median),
    *   - plan time (a stats-pruned point scan) stays flat at depth,
    *   - `.history` / `.snapshots` scans stay sub-second,
    *   - `expireSnapshots` + chunk GC reclaims the metadata bytes
    *     (≥ 60% reduction) without touching live data. */
  private def commitDepthSmoke(commits: Int): Unit = {
    val spark = smokeSession("graft-commit-depth")
    val work = Files.createTempDirectory("graft-depth").toString
    import graft.lake.LakeTable
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
    def dirBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(p))
    }
    println(s"[commit-depth] importing $commits single-file commits")
    import graft.lake.LakeTable.{timers, timersEnabled}
    timersEnabled.set(true)
    val times = (0 until commits).map { i =>
      val t0 = System.nanoTime()
      lt.addFiles(dropDir(i))
      (System.nanoTime() - t0) / 1e9
    }
    timersEnabled.set(false)
    import scala.jdk.CollectionConverters._
    val prof = timers.asScala.toSeq
      .map { case (k, v) => k -> v.get / 1e6 / commits }
      .sortBy(-_._2)
    println("[commit-depth] per-commit profile: " + prof.map {
      case (k, ms) => f"$k=$ms%.1f ms" }.mkString(", "))
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val dec = commits / 10
    val first = median(times.slice(dec / 2, dec)) // skip JVM warm-up
    val last = median(times.takeRight(dec))
    val total = times.sum
    val metaBytes = dirBytes(s"$work/t/metadata")
    println(f"[commit-depth] $commits commits in $total%.1f s " +
      f"(${total / commits * 1000}%.1f ms/commit); per-commit median " +
      f"first-decile $first%.4f s, last-decile $last%.4f s; " +
      f"metadata ${metaBytes / 1024 / 1024}%d MiB " +
      f"(${metaBytes / commits}%d bytes/commit)")
    require(last <= first * 3.0,
      f"commit cost grew with history: $first%.4f -> $last%.4f s")
    val (planSec, hit) = timed(lt.scan(col("id") === (commits / 2).toLong)
      .count())
    // first metadata view pays the one-time snaplog reconciliation
    // (reads every v-json the cache is missing, then persists the
    // summaries); steady-state reads are one small file
    val (rebuildSec, _) = timed(lt.history.count())
    val (histSec, nHist) = timed(lt.history.count())
    val (snapSec, nSnap) = timed(lt.snapshotsTable.count())
    println(f"[commit-depth] at depth $commits: point scan " +
      f"$planSec%.2f s ($hit row), snaplog rebuild $rebuildSec%.2f s, " +
      f"then .history $histSec%.2f s ($nHist rows), " +
      f".snapshots $snapSec%.2f s ($nSnap rows)")
    require(hit == 1L)
    require(histSec < 1.0 && snapSec < 1.0,
      f"metadata scans not sub-second: $histSec%.2f / $snapSec%.2f")
    // expiry + GC: metadata bytes shrink, data stays
    val (expSec, _) = timed { lt.expireSnapshots(1); 0L }
    val metaAfter = dirBytes(s"$work/t/metadata")
    println(f"[commit-depth] expire+GC in $expSec%.1f s: metadata " +
      f"${metaBytes / 1024 / 1024}%d MiB -> " +
      f"${metaAfter / 1024 / 1024}%d MiB")
    require(metaAfter <= metaBytes * 2 / 5,
      s"expiry reclaimed too little: $metaBytes -> $metaAfter")
    require(lt.countRows() == commits.toLong)
    val (planSec2, hit2) = timed(
      lt.scan(col("id") === (commits / 4).toLong).count())
    require(hit2 == 1L)
    println(f"[commit-depth] post-GC point scan $planSec2%.2f s; PASS")
    spark.stop()
  }

  /** `dv [sfDir] [deletes]`: deletion-vector read amplification at
    * delete-commit DEPTH — the month-of-hourly-predicate-deletes shape.
    * Seeds orders into a MOR table, runs `deletes` single-key
    * predicate-delete commits (one position-delete artifact each), and
    * measures a full-scan aggregate BEFORE consolidation (N artifact
    * opens + an anti-join keyed by every deleted row) vs AFTER
    * `consolidateDeleteVectors()` (one broadcast bitmap row per file).
    * Asserts: identical scan content, ≥ `deletes` artifacts folding to
    * exactly one, the post-DV plan free of LeftAnti, and the post-DV
    * scan at least as fast (with generous noise headroom — the real
    * claim is the SHAPE; wall clock at fixture scale is job overhead). */
  /** Streaming micro-batch PLANNING cost at commit depth: a table of
    * `commits` one-row append snapshots, then (a) per-single-snapshot
    * incremental-scan planning on a COLD handle — what one graft-lake
    * micro-batch pays before any row moves — and (b) an end-to-end
    * Trigger.AvailableNow drain through the real source with a
    * per-trigger cap, timing per-micro-batch wall. Guards the skeleton
    * range-planning path (incrementalScan materializes ONE full
    * snapshot per batch, skeletons for the rest). */
  private def streamProbe(commits: Int): Unit = {
    val spark = smokeSession("graft-stream-probe")
    val work = Files.createTempDirectory("graft-sprobe").toString
    import graft.lake.LakeTable
    // one parquet per future commit, ONE Spark job (commit-depth trick)
    spark.range(commits.toLong).select(col("id"),
        (col("id") * 3 % 101).cast("double").as("v"),
        col("id").as("drop"))
      .coalesce(1).write.partitionBy("drop").parquet(s"$work/drops")
    val schema = spark.read.parquet(s"$work/drops/drop=0").schema
    val lt = LakeTable.create(spark, s"$work/t", schema)
    var t0 = System.nanoTime()
    (0 until commits).foreach(i => lt.addFiles(s"$work/drops/drop=$i"))
    println(f"[stream-probe] $commits single-file commits in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    val head = lt.currentSnapshotId.get

    // (a) cold-handle batch PLANNING: build the incremental frame and
    // force the physical plan, no execution — the per-trigger planning
    // cost a tailing stream pays at depth. Single-snapshot batches AND
    // a 50-snapshot catch-up range (where the skeleton path earns its
    // keep: 1 full materialization + N skeletons instead of N fulls).
    def planProbe(tag: String): Unit = {
      val cold = LakeTable.load(spark, s"$work/t")
      val t1 = System.nanoTime()
      var batches = 0
      var lo = head - 50
      while (lo < head) {
        val df = cold.incrementalScan(lo, lo + 1)
        df.queryExecution.executedPlan // force planning
        batches += 1; lo += 1
      }
      val perBatch = (System.nanoTime() - t1) / 1e6 / batches
      println(f"[stream-probe] $tag: $batches single-snapshot batch " +
        f"plans on a cold handle, $perBatch%.1f ms/batch")
    }
    planProbe("plan")
    planProbe("plan-warm") // second handle: fs cache warm, parse cost only
    locally { // one 50-snapshot catch-up batch, skeleton range planning
      val cold = LakeTable.load(spark, s"$work/t")
      val t1 = System.nanoTime()
      cold.incrementalScan(head - 50, head).queryExecution.executedPlan
      println(f"[stream-probe] range-50 plan (skeletons + 1 full): " +
        f"${(System.nanoTime() - t1) / 1e6}%.1f ms")
      // the pre-skeleton cost reference: materializing every snapshot
      // in the range on a cold handle (what the old range plan did)
      val cold2 = LakeTable.load(spark, s"$work/t")
      val t2 = System.nanoTime()
      ((head - 50 + 1) to head).foreach(cold2.snapshot)
      println(f"[stream-probe] range-50 legacy reference (50 full " +
        f"materializations): ${(System.nanoTime() - t2) / 1e6}%.1f ms")
    }

    // (b) end-to-end AvailableNow drain via the real source, capped so
    // the run is many micro-batches — per-batch fixed cost measured
    // through the whole engine
    val cap = 10
    t0 = System.nanoTime()
    val q = spark.readStream.format("graft-lake")
      .option("maxSnapshotsPerTrigger", cap.toString)
      .load(s"$work/t")
      .writeStream.format("noop")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val nBatches = math.ceil((head.toDouble) / cap).toInt
    val total = (System.nanoTime() - t0) / 1e9
    println(f"[stream-probe] AvailableNow drain: ~$nBatches " +
      f"micro-batches (cap $cap) in $total%.1f s = " +
      f"${total / nBatches * 1000}%.0f ms/micro-batch; PASS")
  }

  /** Iceberg-export cost + fidelity at FILE depth: a `files`-file MOR
    * table with mixed outstanding delete state (equality keys, loose
    * position files, a consolidated vector), exported and then
    * reconstructed from the exported artifacts alone — the driver cost
    * must scale O(files) (one manifest entry each, no data I/O beyond
    * the delete-artifact rewrites), and the reconstructed row count
    * must equal the governed scan. */
  private def exportSmoke(sfDir: String, files: Int): Unit = {
    val spark = smokeSession("graft-export-smoke")
    val work = Files.createTempDirectory("graft-exp").toString
    import graft.lake.{IcebergExport, LakeTable}
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val lt = LakeTable.create(spark, s"$work/t", orders.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    lt.append(orders.repartition(files))
    lt.deleteByKeys(orders.where(col("o_orderkey") % 101 === 5)
      .select("o_orderkey"), Seq("o_orderkey"))
    (1 to 20).foreach(i =>
      lt.delete(col("o_orderkey") === (i * 31 + 2).toLong))
    lt.consolidateDeleteVectors()
    (1 to 5).foreach(i =>
      lt.delete(col("o_orderkey") === (i * 97 + 4).toLong))
    val s = lt.currentSnapshot.get
    println(s"[export] ${s.liveFiles.size} data files, " +
      s"${s.deleteFiles.size} eq + ${s.posDeleteFiles.size} pos + " +
      s"${s.dvFiles.size} dv artifacts outstanding")
    val expect = lt.scan().count()
    var t0 = System.nanoTime()
    val metaPath = IcebergExport.export(lt, s"$work/ice")
    val tExp = (System.nanoTime() - t0) / 1e9
    def dirBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(p))
    }
    println(f"[export] export of ${s.liveFiles.size} files in " +
      f"$tExp%.1f s (${tExp * 1000 / s.liveFiles.size}%.2f ms/file); " +
      f"export dir ${dirBytes(s"$work/ice") / 1024}%,d KiB " +
      "(metadata + rewritten delete artifacts only)")
    // reconstruct from the exported artifacts alone
    t0 = System.nanoTime()
    val conf = spark.sessionState.newHadoopConf()
    val entries = IcebergExport.readEntries(metaPath, conf)
    require(entries.size == s.liveFiles.size, "entry per live file")
    def tailOf(c: org.apache.spark.sql.Column) =
      regexp_extract(c, "^(?:.*/)?(data/.+)$", 1)
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
    val got = cur.count()
    println(f"[export] reconstruction from exported artifacts in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s: $got rows " +
      f"(governed scan $expect)")
    require(got == expect, s"reconstruction diverged: $got vs $expect")
    println("[export] PASS")
    spark.stop()
  }

  /** Continuous-publish cost: `rounds` append+publish cycles against a
    * seeded 500-file table — delta publishes must stay O(new files),
    * flat in table size — then one delete forcing the full-rewrite
    * fallback, for the cost ratio. */
  /** Delta-publish cost at depth: v0 export of a 500-file table, then
    * `rounds` append+publish cycles — each commit JSON must stay
    * O(new files), so the per-publish ms is flat however long the
    * history; a checkpoint then collapses replay cost (state() reads
    * O(1) files instead of O(versions) JSON). */
  private def deltaPublishSmoke(sfDir: String, rounds: Int): Unit = {
    val spark = smokeSession("graft-delta-publish-smoke")
    val work = Files.createTempDirectory("graft-dpub").toString
    import graft.lake.{DeltaExport, DeltaImport, LakeTable}
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val lt = LakeTable.create(spark, s"$work/t", orders.schema)
    lt.append(orders.repartition(500))
    var t0 = System.nanoTime()
    DeltaExport.export(lt, s"$work/delta")
    println(f"[delta-publish] v0 (full, 500 files): " +
      f"${(System.nanoTime() - t0) / 1e6}%.0f ms")
    val slice = orders.limit(200).repartition(2)
    val deltaMs = (1 to rounds).map { _ =>
      lt.append(slice)
      val s = System.nanoTime()
      DeltaExport.publish(lt, s"$work/delta")
      (System.nanoTime() - s) / 1e6
    }
    println(f"[delta-publish] $rounds append+publish cycles: " +
      f"avg ${deltaMs.sum / rounds}%.0f ms/publish " +
      f"(first ${deltaMs.head}%.0f, last ${deltaMs.last}%.0f — " +
      "flat = O(new files), not O(table))")
    t0 = System.nanoTime()
    val stJson = DeltaImport.state(spark, s"$work/delta", None)
    val tJson = (System.nanoTime() - t0) / 1e6
    DeltaExport.checkpoint(spark, s"$work/delta")
    lt.append(slice)
    DeltaExport.publish(lt, s"$work/delta")
    t0 = System.nanoTime()
    val stCkpt = DeltaImport.state(spark, s"$work/delta", None)
    val tCkpt = (System.nanoTime() - t0) / 1e6
    println(f"[delta-publish] state replay: ${stJson.version + 1} JSON " +
      f"versions $tJson%.0f ms → checkpoint-seeded $tCkpt%.0f ms " +
      f"(${stCkpt.adds.size} live files)")
    val got = DeltaImport.scan(spark, s"$work/delta").count()
    val expect = lt.scan().count()
    require(got == expect, s"delta history diverged: $got vs $expect")
    println(s"[delta-publish] current reads $got rows (= governed " +
      "scan); PASS")

    // --- deletion-vector publish leg: a MOR table at the same file
    // count deletes ~1% of keys, consolidates, and publishes — the
    // extra cost over a plain publish is the DV re-encode (positions
    // decode + roaring serialize + one .bin write, bytes ∝ deleted
    // rows / 8) and must stay file-count-flat, not table-sized
    val mt = LakeTable.create(spark, s"$work/mt", orders.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    mt.append(orders.repartition(500))
    DeltaExport.export(mt, s"$work/mdelta")
    val dvMs = (1 to 5).map { i =>
      mt.delete(col("o_orderkey") % 101 === i.toLong)
      mt.consolidateDeleteVectors()
      val s = System.nanoTime()
      DeltaExport.publish(mt, s"$work/mdelta")
      (System.nanoTime() - s) / 1e6
    }
    val mst = DeltaImport.state(spark, s"$work/mdelta", None)
    val dvFiles = mst.adds.count(_.dv.isDefined)
    val dvCard = mst.adds.flatMap(_.dv).map(_.cardinality).sum
    val dvBytes = mst.adds.flatMap(_.dv).map(_.sizeInBytes.toLong).sum
    println(f"[delta-publish] 5 DV publish cycles (500-file MOR " +
      f"table): avg ${dvMs.sum / 5}%.0f ms/publish (first " +
      f"${dvMs.head}%.0f, last ${dvMs.last}%.0f); $dvFiles files " +
      f"carry DVs, $dvCard%,d deleted rows in $dvBytes%,d DV bytes")
    val mgot = DeltaImport.scan(spark, s"$work/mdelta").count()
    val mexp = mt.scan().count()
    require(mgot == mexp, s"DV history diverged: $mgot vs $mexp")
    println(s"[delta-publish] DV current reads $mgot rows (= governed " +
      "scan); PASS")
    spark.stop()
  }

  /** [[org.apache.spark.sql.graftlake.DeltaLogFileIndex]] planning
    * depth: a synthetic adds-only log (hand-written JSON; planning
    * never opens the data files) at n/10 and n adds, timing the
    * driver replay and the executedPlan + listFiles cost of a full
    * scan, a partition-pruned probe, and a stats-pruned probe — the
    * flat-vs-adds curve PERF.md records. Planned-file counts are
    * REQUIRED exact (1/100 partitions; the stats subset), so the
    * numbers can never go quietly wrong. */
  private def deltaPlanSmoke(maxAdds: Int): Unit = {
    val spark = smokeSession("graft-delta-plan-smoke")
    import graft.lake.DeltaImport
    val schemaStr = """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
    Seq(maxAdds / 10, maxAdds).foreach { n =>
      val work = Files.createTempDirectory("graft-dplan").toString
      val dir = s"$work/t"
      val fs = new org.apache.hadoop.fs.Path(work).getFileSystem(
        spark.sessionState.newHadoopConf())
      val sb = new StringBuilder(n * 256)
      sb.append("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
        .append('\n')
      sb.append("""{"metaData":{"id":"plan","format":{"provider":"parquet","options":{}},"schemaString":"""")
        .append(schemaStr)
        .append("""","partitionColumns":["p"],"configuration":{},"createdTime":1}}""")
        .append('\n')
      (0 until n).foreach { i =>
        val lo = i.toLong * 100; val hi = lo + 99
        sb.append(s"""{"add":{"path":"p=${i % 100}/f$i.parquet","partitionValues":{"p":"${i % 100}"},"size":1024,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":100,\\"minValues\\":{\\"id\\":$lo},\\"maxValues\\":{\\"id\\":$hi},\\"nullCount\\":{\\"id\\":0}}"}}""")
          .append('\n')
      }
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "_delta_log"))
      graft.lake.LakeTable.writeStringExclusive(fs,
        new org.apache.hadoop.fs.Path(dir,
          "_delta_log/00000000000000000000.json"), sb.toString)
      var t0 = System.nanoTime()
      val st = DeltaImport.state(spark, dir, None)
      val replayMs = (System.nanoTime() - t0) / 1e6
      require(st.adds.size == n, s"replay lost adds: ${st.adds.size}")
      t0 = System.nanoTime()
      val df = DeltaImport.scan(spark, dir)
      val buildMs = (System.nanoTime() - t0) / 1e6
      def planned(q: org.apache.spark.sql.DataFrame): (Long, Double) = {
        val s = System.nanoTime()
        val scans = q.queryExecution.executedPlan.collect {
          case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
        }
        require(scans.nonEmpty, "no FileSourceScanExec in the plan")
        val files = scans.map(sc => sc.relation.location
          .listFiles(sc.partitionFilters, sc.dataFilters)
          .map(_.files.size.toLong).sum).sum
        (files, (System.nanoTime() - s) / 1e6)
      }
      val (fFull, msFull) = planned(df)
      val (fPart, msPart) = planned(df.where(col("p") === "7"))
      val (fStats, msStats) = planned(df.where(col("id") <= 5000L))
      require(fFull == n, s"full plan listed $fFull of $n files")
      require(fPart == n / 100,
        s"partition probe planned $fPart files, expected ${n / 100}")
      require(fStats == 51,
        s"stats probe planned $fStats files, expected 51 (min<=5000)")
      println(f"[delta-plan] $n%,d adds: replay $replayMs%.0f ms, " +
        f"index build $buildMs%.0f ms; plan full $msFull%.0f ms " +
        f"($fFull%,d files), partition-pruned $msPart%.0f ms " +
        f"($fPart files), stats-pruned $msStats%.0f ms ($fStats " +
        "files); PASS")
    }
    spark.stop()
  }

  /** SCD2 refresh cost at depth: the claim under test is cost ∝
    * CHANGED rows, never dimension size — per-refresh ms must stay
    * flat as the dimension accumulates version history, because the
    * changelog reads commit deltas, the open-row lookup prunes
    * history files on the materialized _is_current bounds, and the
    * merge rewrites only key-affected files. */
  private def scd2Smoke(sfDir: String, rounds: Int): Unit = {
    val spark = smokeSession("graft-scd2-smoke")
    import graft.lake.{LakeTable, ScdDimension}
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice"), 2).as("price"))
    val nSrc = orders.count()
    // uniformly-scattered business keys are COW's worst case (every
    // dim file holds some touched key — no pruning can narrow the
    // rewrite); merge-on-read is the scale mode for that shape: one
    // data file + one equality-delete file per refresh, zero rewrites
    Seq(
      "cow" -> Map.empty[String, String],
      // *-lineage: source created with write.row-lineage — the refresh
      // consumes the id-join changelog (carried-row cancellation by
      // id instead of the EXCEPT ALL content-hash pair)
      "cow-lineage" -> Map.empty[String, String],
      "mor" -> Map(LakeTable.PROP_MERGE_MODE -> "merge-on-read"),
      "mor-lineage" -> Map(LakeTable.PROP_MERGE_MODE -> "merge-on-read")
    ).foreach { case (mode, props) =>
      val work = Files.createTempDirectory(s"graft-scd2-$mode").toString
      val srcProps =
        if (mode.endsWith("-lineage"))
          Map(LakeTable.PROP_ROW_LINEAGE -> "true")
        else Map.empty[String, String]
      val lt = LakeTable.create(spark, s"$work/src", orders.schema,
        properties = srcProps)
      val dim = LakeTable.create(spark, s"$work/dim",
        ScdDimension.dimensionSchema(orders.schema, Seq("o_orderkey"),
          Seq("o_orderpriority", "price")), properties = props)
      lt.append(orders.repartition(8))
      val useLin = mode.endsWith("-lineage")
      def rf() = ScdDimension.refresh(lt, dim, Seq("o_orderkey"),
        Seq("o_orderpriority", "price"), useLineage = useLin)
      var t0 = System.nanoTime()
      rf()
      println(f"[scd2/$mode] initial load ($nSrc keys): " +
        f"${(System.nanoTime() - t0) / 1e6}%.0f ms")
      // each round re-prices a rotating ~1k-key slice; the dimension
      // grows by ~1k closed versions per round
      val ms = (1 to rounds).map { i =>
        lt.update(col("o_orderkey") % 137 === (i % 97).toLong,
          Map("price" -> round(col("price") + 1, 2)))
        val s = System.nanoTime()
        rf()
        val out = (System.nanoTime() - s) / 1e6
        // MOR debt policy: fold delete files periodically, as a real
        // deployment's maintenance would (time EXCLUDED — maintenance
        // is amortized/background by design)
        if (mode == "mor" && i % 10 == 0) dim.compact(8)
        out
      }
      val dimRows = dim.scan().count()
      val open = dim.scan()
        .where(col(ScdDimension.CurrentCol)).count()
      println(f"[scd2/$mode] $rounds update+refresh cycles: avg " +
        f"${ms.sum / rounds}%.0f ms/refresh (first ${ms.head}%.0f, " +
        f"last ${ms.last}%.0f); dim now $dimRows rows, $open open")
      require(open == nSrc, s"open rows $open != source keys $nSrc")
      // one refresh spanning MANY commits costs like one commit's
      // worth of the same total change volume
      (1 to 5).foreach(i => lt.update(
        col("o_orderkey") % 149 === i.toLong,
        Map("price" -> round(col("price") + 1, 2))))
      t0 = System.nanoTime()
      rf()
      println(f"[scd2/$mode] one refresh over 5 pending commits: " +
        f"${(System.nanoTime() - t0) / 1e6}%.0f ms; PASS")
    }
    spark.stop()
  }

  private def publishSmoke(sfDir: String, rounds: Int): Unit = {
    val spark = smokeSession("graft-publish-smoke")
    val work = Files.createTempDirectory("graft-pub").toString
    import graft.lake.{IcebergExport, IcebergImport, LakeTable}
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val lt = LakeTable.create(spark, s"$work/t", orders.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    lt.append(orders.repartition(500))
    var t0 = System.nanoTime()
    IcebergExport.publish(lt, s"$work/ice")
    println(f"[publish] v1 (full, 500 files): " +
      f"${(System.nanoTime() - t0) / 1e6}%.0f ms")
    val slice = orders.limit(200).repartition(2)
    val deltaMs = (1 to rounds).map { _ =>
      lt.append(slice)
      val s = System.nanoTime()
      IcebergExport.publish(lt, s"$work/ice")
      (System.nanoTime() - s) / 1e6
    }
    println(f"[publish] $rounds append+publish cycles: " +
      f"avg ${deltaMs.sum / rounds}%.0f ms/delta publish " +
      f"(first ${deltaMs.head}%.0f, last ${deltaMs.last}%.0f — " +
      "flat = O(new files), not O(table))")
    lt.delete(col("o_orderkey") % 97 === 3)
    t0 = System.nanoTime()
    val mFull = IcebergExport.publish(lt, s"$work/ice")
    println(f"[publish] full-rewrite publish after a delete " +
      f"(${lt.currentSnapshot.get.liveFiles.size} files): " +
      f"${(System.nanoTime() - t0) / 1e6}%.0f ms")
    val got = IcebergImport.scan(spark, mFull).count()
    val expect = lt.scan().count()
    require(got == expect, s"publish history diverged: $got vs $expect")
    println(s"[publish] v${rounds + 2} current reads $got rows " +
      "(= governed scan); PASS")
    spark.stop()
  }

  /** Import-side cost at file depth: a `files`-file MOR export read
    * back through the GENERAL reader — metadata planning (load) ms,
    * full-scan parity with the governed scan, and the bounds-pruning
    * win of scanWhere on a selective range predicate. */
  private def importSmoke(sfDir: String, files: Int): Unit = {
    val spark = smokeSession("graft-import-smoke")
    val work = Files.createTempDirectory("graft-imp").toString
    import graft.lake.{IcebergExport, IcebergImport, LakeTable}
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val lt = LakeTable.create(spark, s"$work/t", orders.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    // range-partition by key so per-file bounds are selective (the
    // shape a sorted/ingest-ordered table has at scale)
    lt.append(orders.repartitionByRange(files, col("o_orderkey")))
    lt.deleteByKeys(orders.where(col("o_orderkey") % 101 === 5)
      .select("o_orderkey"), Seq("o_orderkey"))
    (1 to 10).foreach(i =>
      lt.delete(col("o_orderkey") === (i * 31 + 2).toLong))
    lt.consolidateDeleteVectors()
    val metaPath = IcebergExport.export(lt, s"$work/ice")
    val conf = spark.sessionState.newHadoopConf()

    var t0 = System.nanoTime()
    val tm = IcebergImport.load(metaPath, conf)
    val tLoad = (System.nanoTime() - t0) / 1e6
    println(f"[import] load(): ${tm.dataEntries.size} data entries + " +
      f"${tm.deleteEntries.size} delete entries planned in $tLoad%.0f ms " +
      f"(${tLoad / tm.dataEntries.size}%.3f ms/file)")
    require(tm.dataEntries.forall(_.stats.nonEmpty), "bounds decoded")

    t0 = System.nanoTime()
    val full = IcebergImport.scan(spark, metaPath).count()
    val tFull = (System.nanoTime() - t0) / 1e9
    val expect = lt.scan().count()
    require(full == expect, s"import scan diverged: $full vs $expect")
    println(f"[import] full MOR scan: $full rows in $tFull%.1f s " +
      "(= governed scan)")

    val keyMax = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    val lo = keyMax / 2; val hi = keyMax / 2 + keyMax / 100
    val pred = col("o_orderkey") >= lo && col("o_orderkey") <= hi
    val planned = IcebergImport.pruneEntries(spark, tm, pred).size
    t0 = System.nanoTime()
    val prunedCount = IcebergImport.scanWhere(spark, metaPath, pred)
      .count()
    val tPruned = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val unprunedCount = IcebergImport.scan(spark, metaPath)
      .where(pred).count()
    val tUnpruned = (System.nanoTime() - t0) / 1e9
    require(prunedCount == unprunedCount,
      s"pruned scan diverged: $prunedCount vs $unprunedCount")
    println(f"[import] 1%% key-range predicate: scanWhere planned " +
      f"$planned/${tm.dataEntries.size} files, $prunedCount rows in " +
      f"$tPruned%.1f s vs full-scan filter $tUnpruned%.1f s " +
      f"(${tUnpruned / tPruned}%.1fx)")
    println("[import] PASS")
    spark.stop()
  }

  private def dvSmoke(sfDir: String, deletes: Int): Unit = {
    val spark = smokeSession("graft-dv-smoke")
    val work = Files.createTempDirectory("graft-dv").toString
    import graft.lake.LakeTable
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val lt = LakeTable.create(spark, s"$work/t", orders.schema,
      properties = Map(LakeTable.PROP_DELETE_MODE -> "merge-on-read"))
    lt.append(orders.repartition(8))
    val n = orders.count()
    println(s"[dv] $n rows seeded; running $deletes MOR delete commits")
    var t0 = System.nanoTime()
    (1 to deletes).foreach(i =>
      lt.delete(col("o_orderkey") === (i * 17 + 1).toLong))
    println(f"[dv] $deletes predicate-delete commits in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    val preArtifacts = lt.currentSnapshot.get.posDeleteFiles.size
    def scanAgg(): (Double, Long, Long) = {
      val t = System.nanoTime()
      val r = lt.scan().agg(count(lit(1)), sum(col("o_orderkey"))).head()
      ((System.nanoTime() - t) / 1e9, r.getLong(0), r.getLong(1))
    }
    scanAgg() // warm
    val (tPre, rowsPre, sumPre) = scanAgg()
    println(f"[dv] pre-DV scan: $tPre%.2f s over $preArtifacts " +
      "position-delete artifacts")
    require(preArtifacts >= deletes, s"expected >= $deletes artifacts")
    t0 = System.nanoTime()
    lt.consolidateDeleteVectors()
    println(f"[dv] consolidation in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val s = lt.currentSnapshot.get
    require(s.posDeleteFiles.isEmpty && s.dvFiles.size == 1,
      s"expected one vector, got ${s.dvFiles.size} + " +
        s"${s.posDeleteFiles.size} position files")
    scanAgg() // warm
    val (tPost, rowsPost, sumPost) = scanAgg()
    println(f"[dv] post-DV scan: $tPost%.2f s over 1 vector artifact " +
      f"(${tPre / tPost}%.2fx)")
    require(rowsPre == rowsPost && sumPre == sumPost,
      s"content diverged: ($rowsPre,$sumPre) vs ($rowsPost,$sumPost)")
    require(rowsPre == n - deletes, s"$rowsPre vs ${n - deletes}")
    val plan = lt.scan().queryExecution.executedPlan.toString
    require(!plan.contains("LeftAnti"), "post-DV plan still anti-joins")
    require(tPost <= tPre * 1.5,
      f"DV read slower than the artifact pile: $tPre%.2f -> $tPost%.2f")
    // gate-threshold evidence: the recorded artifact size, and the
    // same scan under the FORCED shuffled-join fallback — the cost
    // delta the broadcast gate trades against driver memory
    val dvBytes = s.dvFiles.map(_.bytes).sum
    println(f"[dv] vector artifact: $dvBytes%,d bytes for " +
      f"${s.liveFiles.size} files / $deletes deleted rows")
    spark.conf.set("spark.graft.lake.dv-broadcast-max-bytes", "0")
    try {
      scanAgg() // warm the fallback plan
      val (tFb, rowsFb, sumFb) = scanAgg()
      require(rowsFb == rowsPost && sumFb == sumPost,
        "fallback join diverged from the broadcast path")
      println(f"[dv] forced shuffled-join fallback scan: $tFb%.2f s " +
        f"(broadcast $tPost%.2f s, ${tFb / tPost}%.2fx)")
    } finally
      spark.conf.unset("spark.graft.lake.dv-broadcast-max-bytes")
    println("[dv] PASS")
    spark.stop()
  }

  /** `fs-probe`: micro-latencies of the Hadoop fs operations the commit
    * path performs, isolating where the per-commit milliseconds go. */
  /** replaceWhere at file depth: a `tasks × 100`-file identity-
    * partitioned table, restate ONE partition. The delete side must be
    * pure metadata (removed = exactly that partition's files, zero
    * survivor rewrites), so the commit costs the new batch's write +
    * driver-side manifest arithmetic however many files the table
    * holds; the full-overwrite contrast rewrites everything. */
  private def replaceWhereSmoke(sfDir: String, tasks: Int): Unit = {
    val spark = smokeSession("graft-replacewhere-smoke")
    val work = Files.createTempDirectory("graft-rw-scale").toString
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"),
        (col("o_orderkey") % 100).as("grp"), col("o_totalprice"))
    val cat = new LakeCatalog(spark, s"$work/warehouse")
    cat.createNamespace("ns")
    cat.createTable("ns", "t", orders.schema, partitionBy = Seq("grp"))
    val t = cat.loadTable("ns", "t")
    var t0 = System.nanoTime()
    t.append(orders.repartition(tasks, col("o_orderkey")))
    val entries = t.currentSnapshot.get.liveFiles.size
    println(f"[rw] seeded $entries files in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    val before = t.currentSnapshot.get
    val grpFiles = before.liveFiles.filter(_.contains("grp=42")).toSet
    val batch = orders.where(col("grp") === 42)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    t0 = System.nanoTime()
    t.overwriteWhere(batch, col("grp") === 42)
    val rwSecs = (System.nanoTime() - t0) / 1e9
    val after = t.currentSnapshot.get
    val removed = before.liveFiles.toSet -- after.liveFiles.toSet
    require(removed == grpFiles,
      s"expected exactly grp=42's ${grpFiles.size} files removed, " +
        s"got ${removed.size}")
    require((after.liveFiles.toSet -- before.liveFiles.toSet)
        .forall(_.contains("grp=42")),
      "every added file must land in the restated partition")
    println(f"[rw] restated 1/100 partitions (${grpFiles.size} files " +
      f"dropped as metadata, zero survivor rewrites) in $rwSecs%.2f s")
    require(t.scan().count() == orders.count(), "row conservation")

    // contrast: the full overwrite rewrites the whole table
    t0 = System.nanoTime()
    t.overwrite(orders.repartition(tasks, col("o_orderkey")))
    println(f"[rw] full-overwrite contrast (all $entries files " +
      f"rewritten): ${(System.nanoTime() - t0) / 1e9}%.2f s")
    println("[rw] PASS")
    spark.stop()
  }

  private def fsProbe(): Unit = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
    val conf = new Configuration()
    val dir = new Path(Files.createTempDirectory("graft-fsprobe").toString)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val payload = ("x" * 7000).getBytes("UTF-8")
    def bench(label: String, n: Int)(f: Int => Unit): Unit = {
      val t0 = System.nanoTime()
      (0 until n).foreach(f)
      println(f"[fs-probe] $label: ${(System.nanoTime() - t0) / 1e6 / n}%.2f ms/op")
    }
    bench("fs.create exclusive + write + close (checksummed)", 300) { i =>
      val o = fs.create(new Path(dir, s"a$i"), false)
      o.write(payload); o.close()
    }
    val raw = FileSystem.newInstance(dir.toUri, conf)
    raw.setWriteChecksum(false)
    raw.setVerifyChecksum(false)
    bench("fs.create exclusive (newInstance, no checksum)", 300) { i =>
      val o = raw.create(new Path(dir, s"b$i"), false)
      o.write(payload); o.close()
    }
    bench("FileContext.getFileContext (fresh each)", 300) { _ =>
      FileContext.getFileContext(dir.toUri, conf)
    }
    val fc = FileContext.getFileContext(dir.toUri, conf)
    bench("fc.rename OVERWRITE (cached fc)", 300) { i =>
      fc.rename(new Path(dir, s"a$i"), new Path(dir, s"r$i"),
        Options.Rename.OVERWRITE)
    }
    bench("fs.rename (plain)", 300) { i =>
      fs.rename(new Path(dir, s"r$i"), new Path(dir, s"s$i"))
    }
    bench("fs.exists", 300) { i => fs.exists(new Path(dir, s"s$i")) }
    bench("fs.open+read", 300) { i =>
      graft.lake.LakeTable.readString(fs, new Path(dir, s"s$i"))
    }
  }

  /** Synthetic dedup corpus: `mult` replica generations of the
    * documents table. Replicas of clique bases (`doc_id % 50 == 0`)
    * repeat the text verbatim — planted exact-duplicate cliques of size
    * `mult`. All other replicas interleave a per-(doc, generation) salt
    * token between every word, so every trigram contains the salt and
    * replicas share NO grams (genuinely novel docs). Boilerplate bases
    * (`doc_id % 3 == 0`) additionally append one shared sentence —
    * hot grams with df ≈ mult·N/3 that the maxDocFreq guard must drop.
    * Ids are `doc_id + gen·10⁸` (disjoint across generations). */
  private def dedupCorpus(docs: org.apache.spark.sql.DataFrame,
      mult: Int): org.apache.spark.sql.DataFrame = {
    // short on purpose: the hot grams get df ≈ mult·N/3 (the guard's
    // target), while the per-doc shared-gram RATIO stays ≈ 2/100 — so
    // MinHash band buckets over boilerplate docs stay O(1)-sized and
    // the no-guard minhash path keeps its linear scaling
    val boiler = " all rights reserved worldwide"
    val gens = (0 until mult).map { gen =>
      val salted =
        if (gen == 0) col("text")
        else when(col("doc_id") % 50 === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit(" "),
            concat(lit(" s"), lit(gen), lit("x"), col("doc_id"),
              lit(" "))))
      docs.select(
        (col("doc_id") + lit(gen.toLong * 100000000L)).as("doc_id"),
        when(col("doc_id") % 3 === 0, concat(salted, lit(boiler)))
          .otherwise(salted).as("text"))
    }
    gens.reduce(_ unionByName _)
  }

  /** `dedup-inc [sfDir] [mult]`: the broadcast gate under load — a
    * `mult`×-replicated corpus is indexed, then a whole-generation
    * batch admits against it TWICE: once broadcast-hinted (the
    * under-ceiling default) and once through `broadcastBatch = false`
    * (the path a deliberately over-threshold batch takes — here the
    * caller's row-count policy trips at a tiny stand-in ceiling, the
    * same decision a 512M-row real ceiling forces). Asserts the two
    * manifests are IDENTICAL row-for-row, the gated plan carries zero
    * broadcast hints, and admission decisions match construction
    * (every clique-base replica is a dup; every salted doc is novel). */
  private def dedupIncSmoke(sfDir: String, mult: Int): Unit = {
    val spark = smokeSession("graft-dedup-inc")
    import graft.operators.IncrementalDedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val corpus = dedupCorpus(docs, mult)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCorpus = corpus.count()
    // the batch: one more generation — clique-base replicas duplicate
    // the corpus, salted docs are novel
    val batch = dedupCorpus(docs, mult + 1)
      .where(col("doc_id") >= mult.toLong * 100000000L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBatch = batch.count()
    val idx = IncrementalDedup.buildIndex(corpus).localCheckpoint()
    println(s"[dedup-inc] corpus $nCorpus docs indexed; batch $nBatch")
    // caller-side gate policy: a stand-in ceiling of 1000 batch rows
    // (the production knob is Spark's ~512M-row/8 GB broadcast limit);
    // this batch is DELIBERATELY over it, so the gate must disable the
    // broadcast hints
    val ceiling = 1000L
    val overCeiling = nBatch > ceiling
    require(overCeiling, s"smoke needs an over-threshold batch ($nBatch)")
    val (tGated, gated) = timed(IncrementalDedup.admit(idx, corpus,
      batch, bands = 64, threshold = 0.5,
      broadcastBatch = !overCeiling))
    val (tHinted, hinted) = timed(IncrementalDedup.admit(idx, corpus,
      batch, bands = 64, threshold = 0.5))
    println(f"[dedup-inc] gated admit $tGated%.1f s, " +
      f"hinted admit $tHinted%.1f s")
    val lazyGated = IncrementalDedup.admit(idx, corpus, batch,
      bands = 64, threshold = 0.5, eager = false,
      broadcastBatch = false)
    require(!lazyGated.queryExecution.analyzed.toString
      .contains("ResolvedHint"), "gate left a broadcast hint in the plan")
    val g = gated.collect().map(_.toSeq).toSet
    val h = hinted.collect().map(_.toSeq).toSet
    require(g == h, s"gated (${g.size}) and hinted (${h.size}) " +
      "manifests diverged")
    val byKind = gated.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    println(s"[dedup-inc] admission: $byKind")
    // construction truth: exactly the clique-base replicas (doc_id %
    // 50 == 0 bases) are duplicates — kind is `exact` unless the base
    // has a SMALLER intrinsic near-dup neighbor in the source corpus
    // (smallest-matching-id resolution then correctly reports `near`);
    // every salted doc is novel
    val expectDup = docs.where(col("doc_id") % 50 === 0).count()
    val dupFound = byKind.getOrElse("exact", 0L) +
      byKind.getOrElse("near", 0L)
    require(dupFound == expectDup,
      s"expected $expectDup dups, got $dupFound ($byKind)")
    require(byKind.getOrElse("exact", 0L) >= expectDup * 9 / 10,
      s"exact should dominate the clique replicas: $byKind")
    require(byKind.getOrElse("novel", 0L) == nBatch - expectDup,
      s"novel count off: $byKind")
    println("[dedup-inc] PASS (gated path ≡ hinted path, " +
      s"$nBatch-row batch admitted without broadcast)")
    spark.stop()
  }

  /** `dedup-corpus [sfDir] [mult]`: the dedup family's skew-guard and
    * scaling story under load — a planted corpus at HALF and FULL size
    * (25k / 50k docs at sf0.1×10) runs the n-gram inverted-index path,
    * the MinHash+LSH path, and exact dedup. Asserts per size:
    *   - verified pair counts exactly match the planted cliques
    *     (C(mult,2) per clique base for ngram; minhash banding at
    *     threshold 0.5 with r=2 finds identical docs with certainty),
    *   - the candidate-pair count stays within the maxDocFreq guard's
    *     Σ df·(df−1)/2 bound over RETAINED grams — while the dropped
    *     hot boilerplate grams alone would have contributed ~(N/3·mult)²
    *     pairs (reported as the blowup the guard prevented),
    *   - wall time scales ~linearly corpus-half → corpus-full
    *     (≤ 3.5× allows shuffle-constant noise; the quadratic
    *     no-guard shape would be ≥ 4×). */
  private def dedupCorpusSmoke(sfDir: String, mult: Int): Unit = {
    val spark = smokeSession("graft-dedup-corpus")
    import graft.operators.TextDedup
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val maxDf = 100
    // canonicalize the base: the source corpus carries its own near/
    // exact dups — remove every doc that participates in one, so the
    // only duplicate structure in the synthetic corpus is the PLANTED
    // one and the pair-count asserts are exact by construction
    val srcNg = TextDedup.ngramJaccardPairs(raw, n = 3, threshold = 0.5,
      maxDocFreq = Some(maxDf))
    val srcMh = TextDedup.minHashPairs(raw, k = 128, bands = 64,
      shingleSize = 3, threshold = 0.5)
    val srcPairs = srcNg.select("id_a", "id_b")
      .unionByName(srcMh.select("id_a", "id_b"))
    val dirty = srcPairs.select(col("id_a").as("doc_id"))
      .unionByName(srcPairs.select(col("id_b").as("doc_id")))
      .unionByName(raw.groupBy(md5(col("text")).as("h"))
        .agg(collect_list(col("doc_id")).as("ids"),
          count(lit(1)).as("n"))
        .where(col("n") > 1)
        .select(explode(col("ids")).as("doc_id")))
      .distinct()
    val docs = raw.join(dirty, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    spark.catalog.clearCache()
    println(s"[dedup-corpus] base: ${raw.count()} docs, " +
      s"${docs.count()} after removing intrinsic dup participants")
    def runAt(m: Int): (Double, Double, Double) = {
      val corpus = dedupCorpus(docs, m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = corpus.count()
      val cliqueBases = docs.where(col("doc_id") % 50 === 0).count()
      val expectPairs = cliqueBases * (m.toLong * (m - 1) / 2)
      // --- candidate bound audit (same shingle pipeline the operator
      // runs): retained grams obey df ≤ maxDf, candidates ≤ Σ df(df-1)/2
      val grams = corpus.select(col("doc_id").as("id"),
          explode(TextDedup.shingles(col("text"), 3)).as("g"))
        .select(col("id"), xxhash64(col("g")).as("gram"))
      val dfs = grams.groupBy("gram").agg(count(lit(1)).as("df"))
        .agg(
          sum(when(col("df") <= maxDf,
            (col("df") * (col("df") - 1) / 2).cast("long"))
            .otherwise(0L)).as("bound"),
          sum(when(col("df") > maxDf,
            (col("df") * (col("df") - 1) / 2).cast("long"))
            .otherwise(0L)).as("dropped")).head()
      val (bound, dropped) = (dfs.getLong(0), dfs.getLong(1))
      // every dedup stage runs under the task-skew listener: the
      // scaling claim is per-stage max/median-task, not just totals —
      // a hot-key straggler shows up here even when the wall clock
      // happens to absorb it
      def skewLine(rows: Seq[(Int, Int, Long, Long)]): String =
        rows.filter(_._2 >= 2).sortBy { case (_, _, med, mx) =>
          -mx.toDouble / math.max(med, 1) }.headOption
          .map { case (sid, n, med, mx) =>
            f"worst stage $sid (n=$n) max/med ${mx}ms/${med}ms=" +
              f"${mx.toDouble / math.max(med, 1)}%.1fx" }
          .getOrElse("no multi-task stage")
      val ((tNg, ngPairs), ngSkew) = withTaskSkew(spark)(
        timed(TextDedup.ngramJaccardPairs(corpus,
          n = 3, threshold = 0.5, maxDocFreq = Some(maxDf)).count()))
      val ((tMh, mhPairs), mhSkew) = withTaskSkew(spark)(
        timed(TextDedup.minHashPairs(corpus,
          k = 128, bands = 64, shingleSize = 3, threshold = 0.5).count()))
      val ((tEx, exGroups), exSkew) = withTaskSkew(spark)(
        timed(TextDedup.exact(corpus)
          .where(col("n_copies") > 1).count()))
      // exact-substring spans: each planted clique is m verbatim
      // copies, so every copy's WHOLE text sits in duplicated spans —
      // the corpus-wide position explode + span merge at load
      val ((tSs, ssStats), ssSkew) = withTaskSkew(spark)(timed {
        val r = TextDedup.exactSubstringSpans(corpus, "text", "doc_id", 30)
          .agg(count(lit(1)), sum("dup_chars")).head()
        (r.getLong(0), r.getLong(1))
      })
      println(s"[dedup-corpus] m=$m skew: ngram ${skewLine(ngSkew)} | " +
        s"minhash ${skewLine(mhSkew)} | exact ${skewLine(exSkew)} | " +
        s"substr ${skewLine(ssSkew)}")
      spark.catalog.clearCache()
      corpus.unpersist(true)
      println(f"[dedup-corpus] m=$m: $n%,d docs | ngram $tNg%.1f s " +
        f"($ngPairs pairs), minhash $tMh%.1f s ($mhPairs pairs), " +
        f"exact $tEx%.1f s ($exGroups dup groups), substr $tSs%.1f s " +
        f"(${ssStats._1}%,d docs spanned, ${ssStats._2}%,d dup chars) " +
        f"| candidate bound $bound%,d, guard dropped $dropped%,d " +
        "boilerplate pairs")
      require(ssStats._1 >= cliqueBases * m,
        s"substring dedup missed planted copies: ${ssStats._1} docs " +
          s"spanned < ${cliqueBases * m} planted")
      require(ngPairs == expectPairs,
        s"ngram pairs $ngPairs != planted $expectPairs")
      require(mhPairs == expectPairs,
        s"minhash pairs $mhPairs != planted $expectPairs")
      require(exGroups == cliqueBases,
        s"exact dup groups $exGroups != planted $cliqueBases")
      require(ngPairs <= bound,
        s"verified pairs exceed the guard bound: $ngPairs > $bound")
      require(dropped > bound * 10,
        "fixture too tame: boilerplate blowup should dwarf the bound")
      (tNg, tMh, tSs)
    }
    val (tNgHalf, tMhHalf, tSsHalf) = runAt(mult / 2)
    val (tNgFull, tMhFull, tSsFull) = runAt(mult)
    println(f"[dedup-corpus] scaling half→full (2× docs): " +
      f"ngram ${tNgFull / tNgHalf}%.2fx, minhash ${tMhFull / tMhHalf}%.2fx, " +
      f"substr ${tSsFull / tSsHalf}%.2fx")
    require(tNgFull <= tNgHalf * 3.5,
      f"ngram path super-linear: ${tNgFull / tNgHalf}%.2fx for 2× docs")
    require(tMhFull <= tMhHalf * 3.5,
      f"minhash path super-linear: ${tMhFull / tMhHalf}%.2fx for 2× docs")
    require(tSsFull <= tSsHalf * 3.5,
      f"substr path super-linear: ${tSsFull / tSsHalf}%.2fx for 2× docs")
    println("[dedup-corpus] PASS")
    spark.stop()
  }

  /** Incremental-gold cost proof: seed a silver table, run the
    * cube-maintained gold refresh (initial cost ∝ silver), then apply
    * a 0.5%-of-keys update and show the second refresh (a) processes
    * only the delta's change rows, (b) runs well under the initial
    * refresh, and (c) lands the exact same mart a from-scratch
    * recompute produces. This is the medallion completion of the
    * reference's twice-incremental design: gold refresh cost tracks
    * the silver DELTA, never silver's size. */
  private def goldIncSmoke(sfDir: String): Unit = {
    val spark = smokeSession("graft-gold-inc")
    val work = Files.createTempDirectory("graft-gold-inc").toString
    val cat = new LakeCatalog(spark, work)
    cat.createNamespace("m")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val silverDf = o.select(col("o_orderkey").as("invoiceid"),
      col("o_orderpriority").as("category"),
      col("o_orderstatus").as("destinationstate"),
      round(col("o_totalprice"), 2).as("price"),
      (col("o_orderkey") % 5 + 1).cast("double").as("quantity"))
    // silver is SORTED by the merge key — the production layout for a
    // merge-heavy table: a keyed update's COW rewrite (and therefore
    // the changelog diff the gold refresh reads) stats-prunes to the
    // touched key range's files instead of the whole table. Without
    // this, a scattered-key update rewrites every file and the
    // "incremental" refresh pays a full-table diff — correct, but
    // cost ∝ silver; the sort order is what makes cost ∝ delta.
    cat.createTable("m", "silver", silverDf.schema,
      properties = Map("write.sort.order" -> "invoiceid"))
    val silver = cat.loadTable("m", "silver")
    val job = new graft.pipeline.SilverToGoldJob(spark, cat, "m",
      "silver", "gold")
    val n = silverDf.count()
    // 10 range-sliced ingest batches → ~20 sorted files, so the
    // pruning assertion below measures something real (one giant file
    // would make every update "prune" trivially)
    val maxKey = silverDf.agg(max(col("invoiceid"))).head().getLong(0)
    (0L until 10L).foreach { i =>
      silver.append(silverDf.where(
        col("invoiceid") >= i * (maxKey + 1) / 10 &&
          col("invoiceid") < (i + 1) * (maxKey + 1) / 10))
    }
    val (tInit, _) = timed(job.runIncremental())
    println(f"[gold-inc] initial refresh: $tInit%.2f s ($n silver rows)")
    val preHead = silver.currentSnapshotId.get
    // 0.5% of keys, CONTIGUOUS range (the sort order makes it prune)
    silver.merge(silverDf.where(col("invoiceid") <= n / 200 * 5)
      .withColumn("price", col("price") + 1), Seq("invoiceid"))
    val head = silver.currentSnapshotId.get
    val changed = silver.changes(preHead, head).count()
    val nUpd = silverDf.where(col("invoiceid") <= n / 200 * 5).count()
    val (tDelta, _) = timed(job.runIncremental())
    println(f"[gold-inc] delta refresh: $tDelta%.2f s " +
      f"($changed change rows for $nUpd updated keys)")
    // (a) the changelog the refresh consumed is the DELTA, not silver:
    // one delete + one insert per updated key
    require(changed <= 2L * (nUpd + 1),
      s"change rows $changed not proportional to the $nUpd-key delta")
    // (b) the update's COW rewrite pruned to the key range's files —
    // what bounds BOTH the rewrite and the changelog diff the refresh
    // reads (file proportionality is the scale property; wall time at
    // fixture size is fixed per-job overhead, so only loosely guarded)
    val mergeCommit = silver.snapshotsTable
      .where(col("snapshot_id") === head).head()
    val rewritten = mergeCommit.getAs[Long]("n_removed_files")
    val live = mergeCommit.getAs[Long]("n_live_files")
    println(s"[gold-inc] merge rewrote $rewritten of $live files")
    require(rewritten <= (live + 3) / 4,
      s"keyed update rewrote $rewritten/$live files — sort-order " +
        "pruning not effective, refresh cost would track table size")
    require(tDelta < tInit * 2.0,
      f"delta refresh $tDelta%.2f s far above initial $tInit%.2f s")
    // (c) exactness vs the from-scratch mart
    val gotInc = cat.loadTable("m", "gold").scan()
      .collect().map(_.toString).sorted.toSeq
    val (tFull, _) = timed(job.run())
    val gotFull = cat.loadTable("m", "gold").scan()
      .collect().map(_.toString).sorted.toSeq
    println(f"[gold-inc] full recompute for comparison: $tFull%.2f s")
    require(gotInc == gotFull,
      "incremental mart diverged from the from-scratch recompute")
    println("[gold-inc] PASS")
    spark.stop()
  }

  /** Per-stage task-time skew under an action: run `f` with a listener
    * recording every task's duration, return (result, rows) where rows
    * are `(stageId, nTasks, medianMs, maxMs)` sorted by maxMs desc.
    * This is the measurement the straggler claims rest on: a hot-key
    * one-partition stage shows up as max ≫ median in its shuffle
    * stage, whatever the totals say. */
  private def withTaskSkew[T](spark: SparkSession)(f: => T)
      : (T, Seq[(Int, Int, Long, Long)]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val times = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        times.computeIfAbsent(t.stageId,
          _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
          .add(t.taskInfo.duration)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val r = try f finally {
      Thread.sleep(1500) // listener bus drains asynchronously
      spark.sparkContext.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val rows = times.asScala.toSeq.map { case (sid, q) =>
      val ds = q.asScala.toSeq.sorted
      (sid, ds.size, ds(ds.size / 2), ds.last)
    }.sortBy(-_._4)
    (r, rows)
  }

  /** `dv-import [maxFiles]`: the foreign-DV decode path at 10⁵
    * DV-bearing files — the shape that used to be a sequential driver
    * loop (10⁵ fs round-trips + an ungated driver heap of bitmaps).
    * Specs are real spec-encoded inline ('i', Z85 RoaringBitmapArray)
    * deletion vectors; past the driver threshold
    * [[graft.lake.DvFilter.filterDeletedBy]] decodes them INSIDE
    * executor tasks and ships back one packed-words row per file, so
    * driver time stays flat in the file count (plan build is spec
    * construction only). One spec targets a real parquet file and
    * must drop exactly its marked rows; the rest are phantom paths
    * the left join passes through. */
  /** CDF production cost model: an insert-only publish stays
    * cdc-free (file-action synthesis IS the feed), and a cdc-bearing
    * publish costs ∝ the commit's REWRITTEN data (the changelog
    * compares only the commit's own file delta; carried rows cancel),
    * demonstrated by updating one partition vs all partitions of the
    * same table — at 100 TB a partition-pruned update feeds the CDF
    * at the touched-partition size, never the table size. */
  private def cdfPublishSmoke(sfDir: String): Unit = {
    val spark = smokeSession("graft-cdf-publish-smoke")
    val work = Files.createTempDirectory("graft-cdfpub").toString
    import graft.lake.{DeltaExport, DeltaImport, LakeTable}
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderpriority"))
    val lt = LakeTable.create(spark, s"$work/t", orders.schema,
      partitionBy = Seq("o_orderpriority"),
      properties = Map(LakeTable.PROP_PUBLISH_CDF -> "true"))
    lt.append(orders.repartition(32))
    DeltaExport.export(lt, s"$work/delta")
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def cdcActions(v: Long): Int =
      graft.lake.LakeTable.readString(fs,
        new org.apache.hadoop.fs.Path(
          f"$work/delta/_delta_log/$v%020d.json"))
        .split('\n').count(_.contains("\"cdc\""))
    def curVersion: Long =
      DeltaImport.state(spark, s"$work/delta", None).version
    // leg A: insert-only — the publish must emit NO cdc
    lt.append(orders.limit(2000).repartition(1))
    val (tIns, _) = timed(DeltaExport.publish(lt, s"$work/delta"))
    require(cdcActions(curVersion) == 0,
      "insert-only publish emitted cdc")
    println(f"[cdf-publish] insert-only publish: ${tIns * 1000}%.0f ms, 0 cdc " +
      "actions (file-action synthesis is the feed)")
    // untimed warm-up so the timed legs below compare codegen-warm
    // jobs, not first-run JIT
    lt.update(col("o_orderkey") % 100 === 7,
      Map("o_totalprice" -> (col("o_totalprice") + 1)))
    DeltaExport.publish(lt, s"$work/delta")
    // leg B: update confined to ONE partition — cdc cost ∝ that
    // partition's rewritten bytes
    lt.update(col("o_orderpriority") === "1-URGENT" &&
      col("o_orderkey") % 10 === 0,
      Map("o_totalprice" -> (col("o_totalprice") + 1)))
    val (tOne, _) = timed(DeltaExport.publish(lt, s"$work/delta"))
    val vOne = curVersion
    val nOne = DeltaImport.changeScan(spark, s"$work/delta", vOne - 1,
      Some(vOne)).count()
    require(cdcActions(vOne) > 0, "update publish emitted no cdc")
    // leg C: the same per-row update across ALL partitions
    lt.update(col("o_orderkey") % 10 === 1,
      Map("o_totalprice" -> (col("o_totalprice") + 1)))
    val (tAll, _) = timed(DeltaExport.publish(lt, s"$work/delta"))
    val vAll = curVersion
    val nAll = DeltaImport.changeScan(spark, s"$work/delta", vAll - 1,
      Some(vAll)).count()
    println(f"[cdf-publish] one-partition update: ${tOne * 1000}%.0f ms " +
      f"($nOne change rows); all-partition update: ${tAll * 1000}%.0f ms " +
      f"($nAll change rows) — cost follows REWRITTEN data")
    // end-to-end: the whole produced feed reads back consistently
    val nWarm = DeltaImport.changeScan(spark, s"$work/delta", vOne - 2,
      Some(vOne - 1)).count()
    val total = DeltaImport.changeScan(spark, s"$work/delta", 0L).count()
    require(total == 2000 + nWarm + nOne + nAll,
      s"feed total $total != ${2000 + nWarm + nOne + nAll}")
    println(s"[cdf-publish] full-feed read: $total change rows; PASS")
  }

  private def dvImportSmoke(maxFiles: Int): Unit = {
    val spark = smokeSession("graft-dv-import-smoke")
    import graft.lake.{DeltaDv, DvFilter}
    val work = Files.createTempDirectory("graft-dvimp").toString
    spark.range(1000).selectExpr("id", "id * 2 AS v").coalesce(1)
      .write.parquet(s"$work/data")
    val df = spark.read.parquet(s"$work/data")
    val realKey = df.select(org.apache.spark.sql.functions
        .input_file_name()).head.getString(0)
      .replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")
    Seq(maxFiles / 10, maxFiles).foreach { n =>
      var t0 = System.nanoTime()
      val specs = (0 until n).map { i =>
        val positions =
          if (i == 0) Array(1L, 5L, 7L, 9L) // the real file: drop 4 rows
          else Array(i.toLong % 97, 100L + i % 11) // phantom files
        val data = DeltaDv.serialize(positions.distinct.sorted)
        (if (i == 0) realKey else s"/phantom/f$i.parquet",
          DeltaDv.Descriptor("i", DeltaDv.z85Encode(data), None,
            data.length, positions.distinct.length.toLong))
      }
      val specMs = (System.nanoTime() - t0) / 1e6
      t0 = System.nanoTime()
      val filtered = DvFilter.filterDeletedBy(spark, df,
        org.apache.spark.sql.functions.regexp_replace(
          org.apache.spark.sql.functions.col("_metadata.file_path"),
          "^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/"),
        org.apache.spark.sql.functions.col("_metadata.row_index"),
        specs.toSeq,
        (t: (String, DeltaDv.Descriptor)) =>
          t._1 -> DeltaDv.read(null, "/", t._2))
      val planMs = (System.nanoTime() - t0) / 1e6
      t0 = System.nanoTime()
      val cnt = filtered.count()
      val execMs = (System.nanoTime() - t0) / 1e6
      require(cnt == 996L, s"expected 996 surviving rows, got $cnt")
      spark.catalog.clearCache()
      println(f"[dv-import] $n%,d DV files: spec build $specMs%.0f " +
        f"ms, plan (decode ${if (n > 1024) "distributed" else
          "driver"}) $planMs%.0f ms, execute $execMs%.0f ms; " +
        "count exact; PASS")
    }
  }

  /** `substr-skew [nDocs]`: the exact-substring verify stage's hot-gram
    * straggler proof (round-15 verdict `weak`). Plants ONE 30-char
    * boilerplate gram duplicated `nDocs`× (default 100k — every doc
    * carries the same L-length block between unique md5 flanks), runs
    * [[graft.operators.TextDedup.exactSubstringSpans]], and asserts:
    *   - correctness: every doc reports exactly the 30-char planted
    *     span (docs spanned == nDocs, dup_chars == 30·nDocs);
    *   - no straggler: for every stage whose slowest task ran ≥ 1 s,
    *     max-task ≤ 5× median-task. Under the pre-fix per-gram count
    *     window, all `nDocs` occurrences of the planted gram land in
    *     ONE window partition (max ≫ median in the verify stage); the
    *     per-(h, gram) map-side-combined verify spreads them with the
    *     underlying data partitioning.
    * Prints the per-stage (tasks, median, max) table for PERF.md. */
  private def substrSkewSmoke(nDocs: Long): Unit = {
    val spark = smokeSession("graft-substr-skew")
    import graft.operators.TextDedup
    val boiler = "BOILERPLATE_LICENSE_GRAM_30CH!" // exactly L=30
    require(boiler.length == 30)
    val docs = spark.range(nDocs).select(col("id"),
      concat(md5(col("id").cast("string")), lit(boiler),
        md5((col("id") + 1000000007L).cast("string"))).as("text"))
    val t0 = System.nanoTime()
    val ((spanned, dupChars), skew) = withTaskSkew(spark) {
      val r = TextDedup.exactSubstringSpans(docs, "text", "id", 30)
        .agg(count(lit(1)), sum("dup_chars")).head()
      (r.getLong(0), r.getLong(1))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[substr-skew] $nDocs%,d docs, one gram × $nDocs%,d " +
      f"occurrences: $secs%.1f s, $spanned%,d docs spanned, " +
      f"$dupChars%,d dup chars")
    println("[substr-skew] stage skew (tasks, median ms, max ms):")
    skew.take(12).foreach { case (sid, n, med, mx) =>
      println(f"[substr-skew]   stage $sid%4d: n=$n%4d  med=$med%6d  " +
        f"max=$mx%6d  ratio=${mx.toDouble / math.max(med, 1)}%5.1f") }
    require(spanned == nDocs,
      s"docs spanned $spanned != planted $nDocs")
    // every doc carries at least the 30-char planted block; grams
    // CROSSING an md5 flank into the boiler also repeat whenever two
    // docs' flanks share a short suffix (hex alphabet — ~1/16 of pairs
    // per overlap char), so the exact total sits modestly above 30/doc
    require(dupChars >= 30L * nDocs && dupChars <= 60L * nDocs,
      s"dup chars $dupChars outside [${30L * nDocs}, ${60L * nDocs}]")
    val stragglers = skew.filter { case (_, _, med, mx) =>
      mx >= 1000 && mx > 5L * math.max(med, 1) }
    require(stragglers.isEmpty,
      s"hot-gram straggler stages: ${stragglers.mkString(", ")}")
    println("[substr-skew] PASS — no stage with max ≥ 1 s and " +
      "max > 5× median")
    spark.stop()
  }
}
