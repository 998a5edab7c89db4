package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.immutable.HashMap
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{LakeCatalog, LakeTable, Snapshot}
import graft.pipeline.{BronzeToSilverJob, PipelineDefaults, RawToBronzeJob,
  SilverToGoldJob}

/** Medallion pipeline benchmark: replays seeded CDC drops through the
  * shipped raw → bronze → silver (→ gold) jobs, one closed-loop client,
  * calling only their public entry points and the lake read API, and
  * prints every metric with its unit. perfbench/README.md describes the
  * workloads and metrics.
  *
  * Usage: MedallionBench --workload cdc_cow|cdc_mor --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> [--trace-out <file>]
  * The last stdout line is `PERFBENCH_RESULT <json>`.
  */
object MedallionBench {
  val Workloads = Seq("cdc_cow", "cdc_mor")

  val Ns = "example_namespace"
  val Bronze = "bronze_orders"
  val Silver = "silver_orders"
  val Gold = "gold_orders_by_state"
  val GoldFull = "gold_orders_by_state_full"

  /** Lake builds per run; `setup_s` is their median. */
  val SetupRuns = 3
  /** Silver reads after each `cdc_mor` drop. */
  val BurstReads = 4
  /** Nominal seconds per closed-loop cycle: a run lands
    * ceil(seconds / cycle) drops, so the measured work depends only on
    * the arguments and never on how fast the host is. */
  val CycleSeconds = Map("cdc_cow" -> 10, "cdc_mor" -> 4)

  def dropsFor(workload: String, seconds: Int): Int =
    math.max(1, math.ceil(seconds.toDouble / CycleSeconds(workload)).toInt)

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, traceOut: Option[Path])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val wl = req("workload")
    require(Workloads.contains(wl),
      s"unknown workload $wl (one of ${Workloads.mkString(", ")})")
    Args(wl, req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      Paths.get(req("work")), m.get("trace-out").map(Paths.get(_)))
  }

  /** The session shape MedallionDemo ships with, fixed here so that no
    * outside setting can change the measured program. */
  def sessionConfs(work: Path): Seq[(String, String)] = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    Seq(
      "spark.master" -> s"local[$cores]",
      "spark.app.name" -> "perfbench-medallion",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.hadoop.fs.file.impl" ->
        classOf[graft.lake.NoForkLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        classOf[graft.lake.NoForkLocalFs].getName,
      "spark.local.dir" -> work.resolve("spark-local").toString)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val confs = sessionConfs(a.work)
    val b = SparkSession.builder()
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      confs.foreach { case (k, v) => println(s"conf $k=$v") }
      val r = new BenchRun(spark, a, sessionS).run()
      println("PERFBENCH_RESULT " + r)
    } finally spark.stop()
  }
}

/** One lake built from scratch under `dir`, with the shipped jobs wired
  * the way [[graft.pipeline.PipelineRunner]] wires them. */
final class Lake(spark: SparkSession, val dir: Path, mor: Boolean) {
  import MedallionBench._

  val raw: Path = dir.resolve("raw")
  val staging: Path = dir.resolve("staging")
  private val ckpt = dir.resolve("checkpoints")
  private val warehouse = dir.resolve("warehouse")
  Files.createDirectories(raw)

  val catalog = new LakeCatalog(spark, warehouse.toString)
  val rawToBronze = new RawToBronzeJob(spark, catalog, raw.toString,
    ckpt.resolve("raw_to_bronze.json").toString, Ns, Bronze)
  val bronzeToSilver = new BronzeToSilverJob(spark, catalog, Ns, Bronze,
    Silver, ckpt.resolve("bronze_to_silver.json").toString,
    tableProperties =
      if (mor) PipelineDefaults.tablePropertiesMor
      else PipelineDefaults.tableProperties)
  val silverToGold = new SilverToGoldJob(spark, catalog, Ns, Silver, Gold)

  /** Lands a staged drop in `raw/` by an atomic rename. */
  def land(d: Drop): Unit = Files.move(d.file,
    raw.resolve(d.file.getFileName), StandardCopyOption.ATOMIC_MOVE)

  def table(name: String): LakeTable = catalog.loadTable(Ns, name)

  def head(name: String): Long =
    if (catalog.tableExists(Ns, name)) table(name).currentSnapshotId.get
    else 0L

  /** Bytes under every table's `metadata/` directory (read with
    * java.nio, so it does not show in the Hadoop FS counters). */
  def metadataBytes: Long = {
    val st = Files.walk(warehouse)
    try {
      var n = 0L
      st.forEach { p =>
        if (Files.isRegularFile(p) &&
            p.getParent.getFileName.toString == "metadata")
          n += Files.size(p)
      }
      n
    } finally st.close()
  }
}

/** The starting state of a run: the lake after the bulk load, the staged
  * drops the measured phase lands, and the expected silver state after
  * each drop (index 0 = after the bulk). */
final case class Built(lake: Lake, bulk: Drop, drops: IndexedSeq[Drop],
    expected: IndexedSeq[HashMap[Long, OrderRow]])

/** A read's answer plus, for the traced run, the scan it planned. */
final case class Answer(value: Any, scan: DataFrame, table: LakeTable)

/** Table heads, metadata size and silver's file set, read between spans
  * in the traced run to count what a batch committed. */
final case class CommitState(heads: Map[String, Long], metaBytes: Long,
    silver: Option[Snapshot])

final class BenchRun(spark: SparkSession, a: MedallionBench.Args,
    sessionS: Double) {
  import MedallionBench._

  private val cow = a.workload == "cdc_cow"
  private val mor = a.workload == "cdc_mor"
  private val tr = new Tracer(spark, a.trace)
  private val heap = new HeapWatch
  private val qrnd = new java.util.SplittableRandom(a.seed * 31 + 7)

  private var attempted = 0L
  private var failed = 0L
  private var wrong = 0L
  private val wrongMsgs = mutable.ArrayBuffer.empty[String]
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private val cycleMs = mutable.ArrayBuffer.empty[Double]
  private val queryMs = mutable.ArrayBuffer.empty[Double]
  private var cdcRows = 0L
  private var landedBytes = 0L
  /** Read answers are checked after the measured phase, so checking
    * never competes with the operations for time. */
  private val deferred = mutable.ArrayBuffer.empty[() => Unit]
  /** Per-span counts only the traced run collects. */
  private val notes = mutable.ArrayBuffer.empty[(Span, String, Double)]

  private def check(ok: Boolean, msg: => String): Unit = if (!ok) {
    wrong += 1
    if (wrongMsgs.size < 10) wrongMsgs += msg
  }

  private def warn(what: String, e: Throwable): Unit = {
    System.err.println(s"[perfbench] $what failed: $e")
    e.printStackTrace()
  }

  // ------------------------------------------------------------- set-up

  private def build(dir: Path): Built = {
    val lake = new Lake(spark, dir, mor)
    val gen = new DropGen(a.seed)
    // fixed, strictly increasing mtimes: delivery stays mtime-monotonic
    val mtime0 = 1700000000000L
    val bulk = gen.bulk(lake.staging, mtime0)
    val expected = mutable.ArrayBuffer(gen.expected)
    val drops = (1 to dropsFor(a.workload, a.seconds)).map { i =>
      val d = gen.next(lake.staging, i, mtime0 + i * 1000L)
      expected += gen.expected
      d
    }
    lake.land(bulk)
    check(lake.rawToBronze.run() == bulk.rows, "bulk raw_to_bronze rows")
    check(lake.bronzeToSilver.run() == bulk.upserts,
      "bulk bronze_to_silver rows")
    if (cow) lake.silverToGold.runIncremental()
    Built(lake, bulk, drops, expected.toIndexedSeq)
  }

  /** Builds the starting lake `SetupRuns` times from scratch, each in a
    * directory of its own with the same seed, and keeps the last one;
    * `setup_s` is the median build time. The first build also pays the
    * JVM's warm-up; the median is a warm build's. */
  private def setup(): (Built, Double) = {
    val built = (1 to SetupRuns).map { i =>
      val t0 = System.nanoTime()
      val b = build(a.work.resolve(s"lake-$i"))
      (b, (System.nanoTime() - t0) / 1e9)
    }
    val times = built.map(_._2)
    println(f"setup: session $sessionS%.3f s, lake builds " +
      times.map(t => f"$t%.3f").mkString(", ") + " s")
    built.init.foreach(b => deleteTree(b._1.lake.dir))
    (built.last._1, Stats.median(times))
  }

  private def deleteTree(dir: Path): Unit = {
    val st = Files.walk(dir)
    try st.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
    finally st.close()
  }

  // --------------------------------------------------------------- reads

  /** Silver columns with the timestamp and date as epoch micros / days. */
  private val silverCols: Seq[Column] = Seq(
    unix_micros(col("replicadmstimestamp")), col("invoiceid"),
    col("itemid"), col("category"), col("price"), col("quantity"),
    unix_date(col("orderdate")), col("destinationstate"),
    col("shippingtype"), col("referral"))

  private def lng(r: Row, i: Int): Long =
    if (r.isNullAt(i)) 0L else r.get(i).asInstanceOf[Number].longValue

  private def toOrderRow(r: Row): OrderRow = OrderRow(r.getLong(0),
    lng(r, 1), lng(r, 2), r.getString(3), math.round(r.getDouble(4) * 100),
    lng(r, 5).toInt, r.getInt(6), r.getString(7), r.getString(8),
    r.getString(9))

  /** Runs one read as a traced op; its answer is checked later against
    * `expected`, which reads only the generator's model. */
  private def query(qid: Long, kind: String, expected: => Any)(
      body: => Answer): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val ans = tr.span(s"query.$kind", qid)(body)
      queryMs += (System.nanoTime() - t0) / 1e6
      deferred += { () =>
        val exp = expected
        check(ans.value == exp,
          s"query $qid $kind: got ${ans.value}, expected $exp")
      }
      if (a.trace) tr.lastOp.foreach { s =>
        notes += ((s, "lake.files_scanned",
          ans.scan.inputFiles.length.toDouble))
        notes += ((s, "lake.files_live",
          ans.table.currentSnapshot.map(_.liveFiles.size.toDouble)
            .getOrElse(0.0)))
      }
    } catch {
      case e: Exception => failed += 1; warn(s"query $qid $kind", e)
    }
  }

  private def openSilver(lake: Lake): LakeTable =
    tr.span("lake.open") { lake.table(Silver) }

  private def point(lake: Lake, key: Long): Answer = {
    val t = openSilver(lake)
    val df = tr.span("lake.plan") { t.scan(col("invoiceid") === key) }
    val rows = tr.span("spark.action") {
      df.select(silverCols: _*).collect()
    }
    Answer(rows.map(toOrderRow).toSeq, df, t)
  }

  private def partitionAgg(lake: Lake, state: String): Answer = {
    val t = openSilver(lake)
    val df = tr.span("lake.plan") {
      t.scan(col("destinationstate") === state)
    }
    val r = tr.span("spark.action") {
      df.agg(count(lit(1)), sum(col("quantity")),
        max(unix_micros(col("replicadmstimestamp"))), sum(col("itemid")))
        .collect()(0)
    }
    Answer((0 until r.length).map(lng(r, _)), df, t)
  }

  private def expectedPartition(m: HashMap[Long, OrderRow],
      state: String): Seq[Long] = {
    val rs = m.valuesIterator.filter(_.state == state).toSeq
    Seq(rs.size.toLong, rs.map(_.quantity.toLong).sum,
      if (rs.isEmpty) 0L else rs.map(_.tsMicros).max, rs.map(_.itemid).sum)
  }

  /** `cdc_mor`: point lookups of keys the drop updated or deleted (their
    * older images are what the drop's delete files must suppress) and
    * aggregates over the partitions it touched; all read through every
    * delete file the merges have committed so far.
    *
    * The lookups take the keys at the first and third quartile of the
    * keys the drop changed. How many files min/max statistics prune for a
    * key near either end of the key range depends on exactly where it
    * falls, and random picks sometimes hit a key only the drops' files can
    * hold and sometimes not, so both made the bytes read swing by seed;
    * the quartiles keep the same shape of read on every seed. */
  private def burst(b: Built, k: Int): Unit = {
    val d = b.drops(k - 1)
    val m = b.expected(k)
    val changed = d.ops.filter(_.op != 'I').map(_.row.invoiceid).sorted
    val points = Seq(changed(changed.size / 4), changed(changed.size * 3 / 4))
    for (j <- 0 until BurstReads) {
      val qid = k * 100L + j
      if (j % 2 == 0) {
        val key = points((j / 2) % points.size)
        query(qid, "point", m.get(key).toSeq)(point(b.lake, key))
      } else {
        val st = d.ops(qrnd.nextInt(d.ops.size)).row.state
        query(qid, "partition_agg", expectedPartition(m, st))(
          partitionAgg(b.lake, st))
      }
    }
  }

  // ------------------------------------------------------------- batches

  /** Lands the staged drops one at a time; returns how many were landed,
    * and the untimed catch-up that commits any drop a failed batch left
    * behind, so the end state can be checked. */
  private def measure(b: Built): (Int, () => Unit) = {
    val lake = b.lake
    var landed = 0
    var pending = Vector.empty[Drop]
    while (landed < b.drops.size) {
      val d = b.drops(landed)
      landed += 1
      pending :+= d
      landedBytes += d.bytes
      attempted += 1
      val before = if (a.trace) Some(commitState(lake)) else None
      val t0 = System.nanoTime()
      try {
        val (nb, ns) = tr.span("batch", landed) {
          tr.span("sources.land") { lake.land(d) }
          val nb = tr.span("pipeline.raw_to_bronze") {
            lake.rawToBronze.run()
          }
          val ns = tr.span("pipeline.bronze_to_silver") {
            lake.bronzeToSilver.run()
          }
          if (cow) tr.span("pipeline.silver_to_gold") {
            lake.silverToGold.runIncremental()
          }
          (nb, ns)
        }
        batchMs += (System.nanoTime() - t0) / 1e6
        check(nb == pending.map(_.rows).sum,
          s"batch $landed: bronze rows $nb")
        check(ns == pending.map(_.upserts).sum,
          s"batch $landed: silver rows $ns")
        cdcRows += pending.map(_.rows).sum
        pending = Vector.empty
        before.foreach(noteCommits(lake, _, nb))
      } catch {
        case e: Exception => failed += 1; warn(s"batch $landed", e)
      }
      if (mor && pending.isEmpty) burst(b, landed)
      cycleMs += (System.nanoTime() - t0) / 1e6
    }
    val catchUp = () => if (pending.nonEmpty) {
      lake.rawToBronze.run()
      lake.bronzeToSilver.run()
      if (cow) lake.silverToGold.runIncremental()
      ()
    }
    (landed, catchUp)
  }

  private def endStateChecks(b: Built, landed: Int): Unit = {
    val lake = b.lake
    val bronzeRows = b.bulk.rows + b.drops.take(landed).map(_.rows).sum
    check(lake.table(Bronze).countRows() == bronzeRows,
      s"bronze rows != $bronzeRows landed")
    val got = lake.table(Silver).scan().select(silverCols: _*).collect()
      .map(toOrderRow)
    val exp = b.expected(landed)
    check(got.length == exp.size &&
        got.map(r => r.invoiceid -> r).toMap == exp,
      s"silver differs from the expected state (${got.length} rows, " +
        s"expected ${exp.size})")
    if (cow) {
      new SilverToGoldJob(spark, lake.catalog, Ns, Silver, GoldFull).run()
      def mart(n: String) = lake.table(n).scan().collect()
        .map(r => r.getString(r.fieldIndex("destinationstate")) -> r)
        .toMap
      val inc = mart(Gold)
      val full = mart(GoldFull)
      val same = inc.keySet == full.keySet && full.forall { case (k, f) =>
        val g = inc(k)
        Seq("n_orders", "n_categories").forall(c =>
          g.getAs[Long](c) == f.getAs[Long](c)) &&
        // both round to cents from sums taken in a different order, so
        // a half-cent tie may round either way
        Seq("revenue", "avg_price").forall(c =>
          math.abs(g.getAs[Double](c) - f.getAs[Double](c)) <= 0.0100001)
      }
      check(same, "incremental gold differs from its full recompute")
    }
  }

  // ------------------------------------------------------- traced counts

  private def commitState(lake: Lake): CommitState = {
    val names = Seq(Bronze, Silver, Gold, s"${Gold}_cube")
    CommitState(names.map(n => n -> lake.head(n)).toMap, lake.metadataBytes,
      lake.table(Silver).currentSnapshot)
  }

  /** Commit and file counts of the batch just traced, from the table
    * metadata before and after it (read outside every span). */
  private def noteCommits(lake: Lake, before: CommitState,
      rows: Long): Unit = tr.lastOp.foreach { op =>
    val after = commitState(lake)
    val child = op.children.map(c => c.name -> c).toMap
    notes += ((op, "commit.snapshots",
      after.heads.map { case (n, h) => h - before.heads(n) }.sum.toDouble))
    notes += ((op, "commit.metadata_bytes",
      (after.metaBytes - before.metaBytes).toDouble))
    child.get("pipeline.raw_to_bronze").foreach(s =>
      notes += ((s, "rows", rows.toDouble)))
    for (s <- child.get("pipeline.bronze_to_silver");
         b <- before.silver; f <- after.silver) {
      val (b0, f0) = (b.liveFiles.toSet, f.liveFiles.toSet)
      def dels(x: Snapshot) = (x.deleteFiles.map(_.path) ++
        x.posDeleteFiles.map(_.path) ++ x.dvFiles.map(_.path)).toSet
      notes += ((s, "files_added", (f0 -- b0).size.toDouble))
      notes += ((s, "files_removed", (b0 -- f0).size.toDouble))
      notes += ((s, "delete_files_added", (dels(f) -- dels(b)).size.toDouble))
    }
  }

  // ----------------------------------------------------------------- run

  def run(): String = {
    val (b, setupS) = setup()
    heap.reset()
    tr.start()
    val cpu0 = ProcessCounters.processCpuNs()
    val fs0 = ProcessCounters.fs()
    val meta0 = b.lake.metadataBytes
    val t0 = System.nanoTime()
    val (landed, caughtUp) = measure(b)
    val elapsedS = (System.nanoTime() - t0) / 1e9
    val cpuS = (ProcessCounters.processCpuNs() - cpu0) / 1e9
    val fs1 = ProcessCounters.fs()
    val metaBytes = b.lake.metadataBytes - meta0
    val written = fs1("fs.bytes_written") - fs0("fs.bytes_written")
    val read = fs1("fs.bytes_read") - fs0("fs.bytes_read")
    val heapMb = heap.peakBytes / 1048576.0
    val spans = tr.spans
    val taskCpuS = tr.total("spark.exec.task_cpu_s")
    val jobs = tr.total("spark.exec.jobs")
    tr.close()
    heap.close()
    caughtUp()

    deferred.foreach(c =>
      try c() catch { case e: Exception => check(false, s"check threw $e") })
    try endStateChecks(b, landed)
    catch { case e: Exception => check(false, s"end-state check threw $e") }

    val nb = math.max(1, batchMs.size)
    val batchS = batchMs.sum / 1000
    val writeAmp = written / math.max(1L, landedBytes)
    // gated end-to-end metrics: set-up time, and work per batch in
    // load-independent units
    val e2e = Seq(
      ("setup_s", setupS, "s", "lower",
        s"(median of $SetupRuns lake builds)"),
      ("jobs_per_batch", jobs / nb, "count", "lower", s"(${jobs.toLong} jobs)"),
      ("write_amp", writeAmp, "ratio", "lower",
        s"(${written.toLong} B written / $landedBytes B landed)"),
      ("read_amp", read / math.max(1L, landedBytes), "ratio", "lower",
        s"(${read.toLong} B read / $landedBytes B landed)"),
      ("metadata_kb_per_batch", metaBytes / 1024.0 / nb, "KiB", "lower",
        s"($metaBytes B of table metadata)"))
    // wall-clock and other figures: printed, recorded, not gated
    val info = Seq(
      ("session_s", sessionS, "s", "lower", "(Spark session start)"),
      ("batch_p50_s", Stats.median(batchMs.toSeq) / 1000, "s", "lower",
        s"(n=${batchMs.size} batches)"),
      ("cycle_p50_s", Stats.median(cycleMs.toSeq) / 1000, "s", "lower",
        s"(n=${cycleMs.size} drops)"),
      ("cdc_rows_per_s", if (batchS == 0) 0.0 else cdcRows / batchS, "1/s",
        "higher", f"($cdcRows rows in $batchS%.3f s of batches)"),
      ("task_cpu_s_per_batch", taskCpuS / nb, "s", "lower",
        f"($taskCpuS%.3f s of Spark task CPU)"),
      ("cpu_s_per_batch", cpuS / nb, "s", "lower",
        f"($cpuS%.2f s process CPU over $elapsedS%.2f s)"),
      ("heap_peak_mb", heapMb, "MB", "lower", "(retained after GC)"),
      ("error_rate", failed.toDouble / math.max(1L, attempted), "ratio",
        "lower", s"($failed of $attempted operations failed)")) ++
      Stats.percentile(batchMs.toSeq, 0.9).map(v =>
        ("batch_p90_s", v / 1000, "s", "lower", s"(n=${batchMs.size})")) ++
      (if (queryMs.isEmpty) Nil
       else Seq(("query_p50_ms", Stats.median(queryMs.toSeq), "ms", "lower",
           s"(n=${queryMs.size} reads)"),
         ("queries_per_s", queryMs.size / elapsedS, "1/s", "higher", "")) ++
         Stats.percentile(queryMs.toSeq, 0.9).map(v =>
           ("query_p90_ms", v, "ms", "lower", s"(n=${queryMs.size})")))

    println(s"workload ${a.workload} seed ${a.seed} seconds ${a.seconds} " +
      s"trace ${if (a.trace) 1 else 0}")
    (e2e ++ info).foreach { case (n, v, u, _, note) =>
      println(f"metric $n%-21s $v%14.4f $u%-6s $note")
    }
    wrongMsgs.foreach(m => println(s"WRONG $m"))
    println("PERFBENCH_INFO " + Stats.infoJson(info))

    val metrics =
      if (!a.trace) e2e.map { case (n, v, u, _, _) => (n, v, u) }
      else {
        val layers = new LayerReport(spans, notes.toSeq, tr, writeAmp,
          queryP50Ms = Stats.median(queryMs.toSeq))
        layers.print()
        a.traceOut.foreach(layers.writeSpans)
        layers.metrics
      }
    Stats.resultJson(wrong == 0, attempted, failed, metrics)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The q-quantile, only when at least ten samples lie beyond it. */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    val s = xs.sorted
    val i = math.max(0, math.ceil(q * s.size).toInt - 1)
    if (s.size - 1 - i < 10) None else Some(s(i))
  }

  def resultJson(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$ms}}"""
  }

  /** Unguarded figures, with the direction `compare.py` needs. */
  def infoJson(info: Seq[(String, Double, String, String, String)]): String =
    info.map { case (n, v, u, better, _) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u", "better": "$better"}"""
    }.mkString("{", ", ", "}")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
