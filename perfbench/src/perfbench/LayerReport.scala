package perfbench

import java.nio.file.{Files, Path}

/** Per-layer metrics of a traced run, computed from its spans.
  *
  * Values are per batch (per landed drop; on `cdc_mor` the drop's read
  * burst counts with it), except the `lake.*` read metrics, which are per
  * read (`.ms`: per call). A workload without the spans a metric needs
  * reports 0 for it, as `cdc_cow` does for `lake.*` and `cdc_mor` for
  * `pipeline.silver_to_gold.*`. */
final class LayerReport(spans: Seq[Span], notes: Seq[(Span, String, Double)],
    tr: Tracer, writeAmp: Double, queryP50Ms: Double) {

  notes.foreach { case (s, k, v) => s.self(k) = s.self.getOrElse(k, 0.0) + v }

  private val ops = spans.filter(_.parent == null)
  private def named(n: String) = spans.filter(_.name == n)
  private val batches = named("batch")
  private val nBatch = batches.size
  private val nRead = ops.count(_.name.startsWith("query."))

  private def per(v: Double, n: Int): Double = if (n == 0) 0.0 else v / n
  private def selfSum(ss: Seq[Span], k: String) =
    ss.map(_.self.getOrElse(k, 0.0)).sum
  private def inclSum(ss: Seq[Span], k: String) =
    ss.map(_.incl.getOrElse(k, 0.0)).sum
  private def durS(ss: Seq[Span]) = ss.map(_.durNs).sum / 1e9

  private def job(n: String, extra: Seq[(String, String, String)]) = {
    val ss = named(s"pipeline.$n")
    Seq((s"pipeline.$n.s", per(durS(ss), nBatch), "s"),
      (s"pipeline.$n.jobs", per(selfSum(ss, "spark.exec.jobs"), nBatch),
        "count")) ++
      extra.map { case (m, k, u) =>
        (s"pipeline.$n.$m", per(selfSum(ss, k), nBatch), u)
      }
  }

  val metrics: Seq[(String, Double, String)] = {
    val scanned = selfSum(ops, "lake.files_scanned")
    val live = selfSum(ops, "lake.files_live")
    val taskCpu = ("task_cpu_s", "spark.exec.task_cpu_s", "s")
    job("raw_to_bronze", Seq(("rows", "rows", "count"))) ++
      job("bronze_to_silver", Seq(taskCpu,
        ("shuffle_bytes", "spark.exec.shuffle_write_bytes", "B"),
        ("files_added", "files_added", "count"),
        ("files_removed", "files_removed", "count"),
        ("delete_files_added", "delete_files_added", "count"))) ++
      job("silver_to_gold", Seq(taskCpu)) ++
      Seq(
        ("lake.open.ms", per(durS(named("lake.open")) * 1000,
          named("lake.open").size), "ms"),
        ("lake.plan.ms", per(durS(named("lake.plan")) * 1000,
          named("lake.plan").size), "ms"),
        ("lake.files_scanned", per(scanned, nRead), "count"),
        ("lake.files_live", per(live, nRead), "count"),
        ("lake.prune_ratio", if (live == 0) 0.0 else scanned / live, "ratio"),
        ("lake.read_p50_ms", queryP50Ms, "ms")) ++
      Seq("analysis", "optimization", "planning").map(p =>
        (s"spark.plan.${p}_ms", per(selfSum(spans, s"spark.plan.${p}_ms"),
          nBatch), "ms")) ++
      Seq(("spark.codegen.compiles",
        per(inclSum(ops, "spark.codegen.compiles"), nBatch), "count")) ++
      Seq(("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("task_cpu_s", "s"), ("task_run_s", "s"),
        ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
        ("spill_bytes", "B"), ("gc_ms", "ms")).map { case (k, u) =>
        (s"spark.exec.$k", per(selfSum(spans, s"spark.exec.$k"), nBatch), u)
      } ++
      Seq(("fs.bytes_read", "B"), ("fs.bytes_written", "B"),
        ("jvm.gc_ms", "ms"), ("jvm.jit_ms", "ms")).map { case (k, u) =>
        (k, per(inclSum(ops, k), nBatch), u)
      } ++
      Seq(
        ("commit.snapshots", per(selfSum(batches, "commit.snapshots"),
          nBatch), "count"),
        ("commit.metadata_bytes",
          per(selfSum(batches, "commit.metadata_bytes"), nBatch), "B"),
        ("bench.write_amp", writeAmp, "ratio"),
        ("trace.batch_p50_s", Stats.median(batches.map(_.durNs / 1e9)), "s"),
        ("trace.bookkeeping_ms_per_op",
          per(tr.bookkeepingNs / 1e6, ops.size), "ms"),
        ("trace.uncovered_pct", 100.0 * ops.map(_.selfNs).sum /
          math.max(1L, ops.map(_.durNs).sum), "%"),
        ("trace.unattributed_jobs",
          tr.unattributed.getOrElse("spark.exec.jobs", 0.0), "count"))
  }

  private val tableCols = Seq("spark.exec.jobs", "spark.exec.task_cpu_s",
    "spark.plan.analysis_ms", "spark.plan.optimization_ms",
    "spark.plan.planning_ms", "spark.codegen.compiles", "fs.bytes_read",
    "fs.bytes_written")

  /** The layer table (per span name: count, mean duration and self time,
    * and each counter's own share per span), how much of each op its
    * children cover, and the per-layer metrics. */
  def print(): Unit = {
    println(f"layer ${"span"}%-26s ${"n"}%5s ${"mean_ms"}%10s " +
      f"${"self_ms"}%10s " +
      tableCols.map(c => f"${c.split('.').last}%14s").mkString(" "))
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      val k = ss.size
      val vals = tableCols.map { c =>
        val v = ss.map(s => s.self.getOrElse(c, 0.0) + s.inclSelf(c)).sum
        f"${v / k}%14.3f"
      }
      println(f"layer $n%-26s $k%5d ${durS(ss) * 1000 / k}%10.3f " +
        f"${ss.map(_.selfNs).sum / 1e6 / k}%10.3f " + vals.mkString(" "))
    }
    ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      val dur = ss.map(_.durNs).sum.toDouble
      println(f"cover $n: children's self times cover " +
        f"${100 * (1 - ss.map(_.selfNs).sum / dur)}%.3f%% of ${ss.size} " +
        "spans")
    }
    metrics.foreach { case (n, v, u) =>
      println(f"layer-metric $n%-44s $v%16.4f $u")
    }
  }

  /** All spans as a JSON list; counters are each span's own share. */
  def writeSpans(out: Path): Unit = {
    Files.createDirectories(out.toAbsolutePath.getParent)
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      val counters = (s.self.keySet ++ s.incl.keySet).toSeq.sorted.map { k =>
        s""""$k": ${Stats.num(s.self.getOrElse(k, 0.0) + s.inclSelf(k))}"""
      }.mkString(", ")
      val parent = if (s.parent == null) "null" else s.parent.id.toString
      sb ++= s"""{"id": ${s.id}, "name": "${s.name}", "parent": $parent, """ +
        s""""op": ${s.opId}, "start_ms": ${s.startMs}, """ +
        s""""dur_ms": ${Stats.num(s.durNs / 1e6)}, """ +
        s""""self_ms": ${Stats.num(s.selfNs / 1e6)}, "counters": {$counters}}"""
      sb ++= (if (i + 1 < spans.size) ",\n" else "\n")
    }
    sb ++= "]\n"
    Files.write(out, sb.toString.getBytes("UTF-8"))
  }
}
